package graft.xscale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.query.Q
import graft.query.Registry.table

/** Perceptual near-dup detection for the BINARY modalities — the dedup
  * signal family the text stack (x01-x05, x14/x15, x99) cannot see:
  * re-encoded, re-brightened or re-gained copies of the same image/audio
  * have different bytes, different text (if any) and different md5s, but
  * the same PERCEPTUAL structure. The classic batch-scale signal is a
  * difference hash (dHash — Krawetz, "Kind of Like That", 2013, the
  * average/difference-hash family also used by pHash): downsample the
  * decoded luma plane to a (W+1)×H grid, emit one bit per horizontally
  * adjacent cell pair ("is the right cell brighter?"), and treat small
  * Hamming distance between the resulting 64-bit fingerprints as
  * near-duplication. Brightness/contrast shifts move every cell the same
  * way, so the COMPARISON bits — and the hash — survive exactly the edits
  * that defeat byte hashing.
  *
  * Everything here is exact integer arithmetic end to end (the house
  * oracle discipline): luma is the e3 BT.601 sum `299·R + 587·G + 114·B`
  * (never divided), downsample blocks compare through cross-multiplied
  * sums (`sumA·cntB > sumB·cntA` — no float means, exact for UNEVEN
  * block sizes too), and the audio leg compares equal-length frame SUMS
  * of centered PCM samples ([[Multimodal.decodeWavFrameSums]]).
  *
  * Candidate generation is the x04 simhash shape one modality over: split
  * the 64-bit hash into [[Bands]] 16-bit bands; Hamming distance ≤
  * [[MaxHamming]] pigeonholes at least one band into exact equality, so a
  * keyed self-join on (band index, band value) finds every qualifying
  * pair without an all-pairs scan; survivors come from min-id connected
  * components ([[DedupClusters.connectedComponents]]).
  *
  * Scale boundary (measured reasoning, the [[Dedup.NarrowSimhashBoundary]]
  * discipline): 16-bit bands hold n/65536 docs per (band, value) bucket,
  * so candidate mass is ~4·65536·C(n/65536, 2) ≈ n²/32768 REGARDLESS of
  * content once n clears ~10⁶ — at 5·10⁶ docs that is ~7.6·10⁸ candidate
  * rows through the verify join. Past [[BandBoundary]], production swaps
  * to the WIDE form ([[dhashBandsWide]]: a 17×16 grid → 256-bit hash in 8
  * × 32-bit bands, hamming ≤ 7 pigeonholed, bucket mass n²/2³²·8 —
  * negligible until ~10⁹ docs). The registered queries pin the classic
  * 64-bit form; the wide swap is spec-pinned and measured in ScaleSmoke.
  *
  * The registered fixtures synthesize REAL container bytes closed-form
  * (a 24-bit BMP writer, an 8-bit PCM WAV writer), push them through the
  * REAL decoders (javax.imageio via [[Multimodal.decodeBlockLumaE3]];
  * the hardened RIFF walk via [[Multimodal.decodeWavFrameSums]]), and the
  * DuckDB oracle recomputes the same hash from the closed form — so a
  * green row pins the whole encode → decode → downsample → hash → band →
  * CC chain, not just the SQL-shaped tail. Reference scope: the reference
  * engine has no binary-modality operators at all (its ingest is CSV
  * text, `csv/csv.go`); this family is part of the north-star
  * training-data surface, like x12/x42.
  */
object PerceptualDedup {

  /** Bands per 64-bit hash (16 bits each): hamming ≤ [[MaxHamming]] = 3 <
    * 4 bands forces at least one band to match exactly (pigeonhole).
    */
  val Bands = 4

  /** Near-dup verify threshold: ≤ 3 of 64 comparison bits differ. */
  val MaxHamming = 3

  /** Docs per corpus past which 16-bit band buckets saturate (candidate
    * mass ≈ n²/32768 — see the object scaladoc) and production swaps to
    * [[dhashBandsWide]]'s 32-bit bands. NOT the same knob as
    * [[Dedup.NarrowSimhashBoundary]] (block capacity of the 6-7-bit
    * simhash pigeonhole) or [[Similarity.FlatEmbBoundary]] (flat
    * quantizer assignment cost) — this one moves with the band WIDTH
    * (16 → 32 bits multiplies the saturation point by 65536).
    */
  val BandBoundary = 1000000L

  /** The [[BandBoundary]] rule AS CODE (the `Dedup.textLegFor` pattern —
    * boundary rules are code, not prose): `true` = the corpus is past the
    * 16-bit bands' saturation point, hash WIDE ([[dhashBandsWide]] /
    * [[audioDhashBandsWide]], 8 × 32-bit bands, hamming ≤
    * [[MaxHammingWide]]). Callers that have just materialized a stage
    * boundary pass its count; `Cli admit --pmedia` bootstraps the
    * `--psigs` state at this width and the state then self-describes it
    * (`meta`), so later batches always hash at the STATE's width.
    */
  def mediaWideFor(nDocs: Long): Boolean = nDocs > BandBoundary

  /** Band count for a width — THE resolution point for every consumer
    * (Cli, StreamingAdmit, the pair entries); re-deriving `if (wide) ...`
    * inline at call sites is how a future width retune drifts.
    */
  def widthBands(wide: Boolean): Int = if (wide) BandsWide else Bands

  /** Default hamming threshold for a width. Both widths sit at
    * `bands − 1` — the largest pigeonhole-sound threshold.
    */
  def widthThreshold(wide: Boolean): Int = if (wide) MaxHammingWide else MaxHamming

  /** Write the `--psigs` state's width self-description (the esigs
    * layout-self-description pattern, `Similarity.admitEmbeddingSigs`):
    * one (band_bits, n_bands) row under `metaPath`. Callers write it
    * BEFORE the bands table — the bootstrap probe is on the bands path,
    * so a crash between the two retries into a full re-bootstrap instead
    * of leaving a wide bands state that later batches read as classic.
    */
  def writeBandMeta(spark: SparkSession, metaPath: String, wide: Boolean): Unit = {
    import spark.implicits._
    Seq((if (wide) 32L else 16L, if (wide) BandsWide.toLong else Bands.toLong))
      .toDF("band_bits", "n_bands")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(metaPath)
  }

  /** Resolve a bands state's width, meta-first with a DATA fallback: a
    * NEW-layout state (mod column present) whose meta table was lost —
    * operator error; the bootstrap writes meta before bands — must not
    * silently read as classic: a wide state compared against
    * classic-hashed batches would mostly produce NO band collisions, so
    * even the loud mismatch guard rarely fires and recall silently goes
    * to zero. Read the MAX band count off the state instead (one
    * single-column scan, only on the meta-missing path) — max, not a
    * sampled row, because a wide state legitimately carries 4-band
    * `img16`/`aud16` small-media rows. Pre-width legacy states (no mod)
    * are classic by construction and never pay the probe.
    */
  def stateWide(spark: SparkSession, metaPath: String, stateBands: DataFrame): Boolean = {
    val p = new org.apache.hadoop.fs.Path(metaPath)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.parquet(metaPath).collect()(0).getLong(0) == 32L
    else if (!stateBands.columns.contains("mod")) false
    else stateBands.select(max(size(col("bands")))).head().getInt(0) == BandsWide
  }

  /** Write the `--psigs` SHINGLE state's self-description (the band-meta
    * pattern on the containment axis, closing the r14-ADVICE gap: a
    * batch shingled at a different tile/gap geometry against a
    * default-geometry state would silently never match): one
    * (spaces, tile, silence_max, gap_min) row under `metaPath`. Callers
    * write it BEFORE the shingles table — the bootstrap probe is on the
    * shingles path, so a crash between the two retries into a full
    * re-bootstrap instead of leaving a state later batches misread.
    */
  def writeShingleMeta(
      spark: SparkSession,
      metaPath: String,
      spaces: Seq[String] = AdmitShingleSpaces,
      tile: Int = TileSize,
      silenceMax: Long = Multimodal.SilenceMax,
      gapMin: Int = Multimodal.GapMin): Unit = {
    import spark.implicits._
    Seq((spaces, tile.toLong, silenceMax, gapMin.toLong))
      .toDF("spaces", "tile", "silence_max", "gap_min")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(metaPath)
  }

  /** Resolve a shingle state's SPACES, validating its recorded geometry
    * against this build's constants — a mismatch raises (the band-width
    * rule: loud failure, never silent zero-recall; re-shingling at a new
    * geometry is a re-bootstrap). States without the meta sidecar keep
    * their historical contracts by LAYOUT: pre-mod → video-only
    * ([[videoFrameShingles]]'s original state), mod-tagged →
    * [[TriadSpaces]] (the r14 triad — bootstrapped before the vsp space
    * existed, so vsp rows neither compare nor append against it;
    * widening is a re-bootstrap).
    */
  def stateShingleSpaces(
      spark: SparkSession,
      metaPath: String,
      stateShingles: DataFrame): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(metaPath)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) {
      val r = spark.read.parquet(metaPath)
        .select("spaces", "tile", "silence_max", "gap_min").head()
      val (tile, sil, gap) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // validated against the SAME named constants the decoders default
      // to (Multimodal.SilenceMax/GapMin, TileSize) — not re-stated
      // literals, so a segmentation-default change can never leave the
      // write/validate pair agreeing with each other but not with the
      // shingle producers (the r15-ADVICE drift mode)
      require(
        tile == TileSize.toLong && sil == Multimodal.SilenceMax &&
          gap == Multimodal.GapMin.toLong,
        s"shingle-state geometry mismatch: state (tile=$tile, silence_max=$sil, " +
          s"gap_min=$gap) vs this build (tile=$TileSize, " +
          s"silence_max=${Multimodal.SilenceMax}, gap_min=${Multimodal.GapMin})" +
          " — comparing across geometries silently never matches; re-bootstrap the" +
          " shingle state")
      r.getSeq[String](0)
    } else if (!stateShingles.columns.contains("mod")) Seq("vid")
    else TriadSpaces
  }

  // ---------------------------------------------------------------------
  // container writers (real bytes, exact layouts)
  // ---------------------------------------------------------------------

  /** A real 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up rows,
    * BGR byte order, rows padded to 4 bytes) with R = G = B = gray(x, y)
    * — equal channels make the BT.601 e3 luma exactly 1000·gray, so a
    * closed-form gray function stays closed-form through the real
    * decoder. javax.imageio's BMP reader accepts this layout as-is.
    */
  def makeBmp(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val rowSize = ((w * 3 + 3) / 4) * 4
    val dataSize = rowSize * h
    val out = new Array[Byte](54 + dataSize)
    def le16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    def le32(o: Int, v: Int): Unit = { le16(o, v & 0xffff); le16(o + 2, (v >> 16) & 0xffff) }
    out(0) = 'B'.toByte; out(1) = 'M'.toByte
    le32(2, 54 + dataSize); le32(10, 54)
    le32(14, 40); le32(18, w); le32(22, h) // positive height = bottom-up
    le16(26, 1); le16(28, 24); le32(30, 0); le32(34, dataSize)
    le32(38, 2835); le32(42, 2835) // 72 dpi in px/m
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = (gray(x, y) & 0xff).toByte
        val o = 54 + (h - 1 - y) * rowSize + x * 3
        out(o) = g; out(o + 1) = g; out(o + 2) = g
        x += 1
      }
      y += 1
    }
    out
  }

  /** A real 8-bit unsigned PCM mono WAV (RIFF/fmt/data, format tag 1) —
    * the layout [[Multimodal.decodeWavSamples]]/`decodeWavFrameSums`
    * accept; samples are raw unsigned bytes (the decoder re-centers at
    * 128 per the WAV spec).
    */
  def makeWav8(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val n = samples.length
    val out = new Array[Byte](44 + n)
    def le16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    def le32(o: Int, v: Int): Unit = { le16(o, v & 0xffff); le16(o + 2, (v >> 16) & 0xffff) }
    def tag(o: Int, s: String): Unit = s.indices.foreach(j => out(o + j) = s(j).toByte)
    tag(0, "RIFF"); le32(4, 36 + n); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
    le32(24, sampleRate); le32(28, sampleRate); le16(32, 1); le16(34, 8)
    tag(36, "data"); le32(40, n)
    var j = 0
    while (j < n) { out(44 + j) = (samples(j) & 0xff).toByte; j += 1 }
    out
  }

  /** A real RIFF/AVI container (LIST 'hdrl' with the 56-byte 'avih' main
    * header, LIST 'movi' with one '00db' uncompressed 24-bit DIB chunk
    * per frame — BGR, bottom-up rows padded to 4 bytes, the BMP
    * pixel-array layout) with R = G = B = gray(f, x, y), so a closed-form
    * gray function stays closed-form through the real decoder (e3 luma
    * exactly 1000·gray). The layout is the minimal subset the AVI chunk
    * grammar and [[Multimodal.decodeAviFrameStats]] share — real byte
    * offsets, real clamp-tested sizes; no codec library exists in this
    * container to cross-validate against (javax.imageio plays that role
    * for the BMP writer), which the video specs compensate for by
    * pinning the walk against hand-computed layouts and crafted
    * corruptions.
    */
  def makeAvi(w: Int, h: Int, nFrames: Int, gray: (Int, Int, Int) => Int): Array[Byte] = {
    val rowSize = ((w * 3 + 3) / 4) * 4
    val frameBytes = rowSize * h
    val moviData = 4 + nFrames * (8 + frameBytes)
    val total = 12 + (8 + 4 + 8 + 56) + (8 + moviData)
    val out = new Array[Byte](total)
    def le16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    def le32(o: Int, v: Int): Unit = { le16(o, v & 0xffff); le16(o + 2, (v >> 16) & 0xffff) }
    def tag(o: Int, s: String): Unit = s.indices.foreach(j => out(o + j) = s(j).toByte)
    tag(0, "RIFF"); le32(4, total - 8); tag(8, "AVI ")
    tag(12, "LIST"); le32(16, 4 + 8 + 56); tag(20, "hdrl")
    tag(24, "avih"); le32(28, 56)
    // MainAVIHeader: dwTotalFrames at 16, dwWidth at 32, dwHeight at 36
    le32(32 + 16, nFrames); le32(32 + 32, w); le32(32 + 36, h)
    tag(88, "LIST"); le32(92, moviData); tag(96, "movi")
    var off = 100
    var f = 0
    while (f < nFrames) {
      tag(off, "00db"); le32(off + 4, frameBytes)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = (gray(f, x, y) & 0xff).toByte
          val o = off + 8 + (h - 1 - y) * rowSize + x * 3
          out(o) = g; out(o + 1) = g; out(o + 2) = g
          x += 1
        }
        y += 1
      }
      off += 8 + frameBytes
      f += 1
    }
    out
  }

  // ---------------------------------------------------------------------
  // hashing
  // ---------------------------------------------------------------------

  /** Pack `16·bands` comparison bits into `bands` positive longs (bit i of
    * band j = bits(16j + i) for 16-bit bands; width parameterized for the
    * wide form). Band values stay well below 2⁶³, so no cross-engine
    * sign-bit semantics ever enter the oracle comparison.
    */
  def bandsFromBits(bits: Array[Boolean], bandBits: Int = 16): Array[Long] = {
    require(bits.length % bandBits == 0, s"${bits.length} bits not divisible into $bandBits-bit bands")
    require(bandBits < 63, "band must fit a positive long")
    Array.tabulate(bits.length / bandBits) { j =>
      var acc = 0L
      var i = 0
      while (i < bandBits) {
        if (bits(j * bandBits + i)) acc |= 1L << i
        i += 1
      }
      acc
    }
  }

  /** dHash of an image payload as [[Bands]] 16-bit band values: REAL
    * decode ([[Multimodal.decodeBlockLumaE3]] — javax.imageio with the
    * same oversize-header refusal as `decodeImage`), exact box downsample
    * to a (gw+1)×gh luma grid, bit (x, y) = "block (x+1, y) brighter than
    * block (x, y)" via cross-multiplied sums (exact for uneven blocks).
    * None when the payload is not a decodable image or is smaller than
    * the grid. No stub fallback: a perceptual hash is definitionally a
    * pixel-space function, and the decode is pure-JVM (always available)
    * — hashing bytes instead would silently group by byte content, the
    * exact failure this operator exists to avoid.
    */
  def dhashBands(payload: Array[Byte], gw: Int = 8, gh: Int = 8, bandBits: Int = 16): Option[Array[Long]] =
    Multimodal.decodeBlockLumaE3(payload, gw + 1, gh)
      .map { case (_, _, sums, cnts) => dhashBandsFromBlocks(sums, cnts, gw, gh, bandBits) }

  /** The dHash comparison + packing step alone, over an already-decoded
    * (gw+1)×gh block grid — shared by [[dhashBands]] and the one-pass
    * combined frame ([[mediaHashShingleFrame]], whose image decode also
    * feeds the crop shingles). Bit (x, y) = "block (x+1, y) brighter than
    * block (x, y)" via cross-multiplied sums (exact for uneven blocks).
    */
  def dhashBandsFromBlocks(
      sums: Array[Long],
      cnts: Array[Long],
      gw: Int,
      gh: Int,
      bandBits: Int): Array[Long] = {
    val bits = new Array[Boolean](gw * gh)
    var y = 0
    while (y < gh) {
      var x = 0
      while (x < gw) {
        val i = y * (gw + 1) + x
        // mean(x+1) > mean(x)  ⟺  sum(x+1)·cnt(x) > sum(x)·cnt(x+1)
        bits(y * gw + x) = sums(i + 1) * cnts(i) > sums(i) * cnts(i + 1)
        x += 1
      }
      y += 1
    }
    bandsFromBits(bits, bandBits)
  }

  /** The production swap past [[BandBoundary]]: a 17×16 grid → 256-bit
    * hash packed as 8 × 32-bit bands. Hamming ≤ 7 still pigeonholes into
    * 8 bands, and 32-bit band buckets hold n/2³² docs — saturation moves
    * from ~10⁶ to ~10⁹ docs. Same decoder, same exact arithmetic.
    */
  def dhashBandsWide(payload: Array[Byte]): Option[Array[Long]] =
    dhashBands(payload, gw = 16, gh = 16, bandBits = 32)

  /** Audio frames per fingerprint: 65 equal windows → 64 adjacent-sum
    * comparisons → the same 64-bit band layout as the image hash.
    */
  val AudioFrames = 65

  /** Audio dHash — the image rule one modality over: 65 equal frames of
    * centered PCM sample SUMS ([[Multimodal.decodeWavFrameSums]], exact
    * integers, equal frame lengths so sums compare like means), bit f =
    * "frame f+1 louder than frame f". A constant GAIN shifts every frame
    * sum by the same amount, so the comparison bits — like the image
    * hash under brightness — survive exactly the edit that defeats byte
    * hashing. Single-alignment convention: a time-shifted copy is out of
    * scope (that is audio fingerprinting à la Shazam, a different
    * operator); this targets re-gained/re-encoded copies of the SAME
    * clip, the dominant near-dup mode in scraped audio corpora.
    */
  def audioDhashBands(payload: Array[Byte]): Option[Array[Long]] =
    Multimodal.decodeWavFrameSums(payload, AudioFrames)
      .map(audioBandsFromSums(_, wide = false))

  /** The audio dHash comparison + packing step alone, over
    * already-computed window sums — shared by [[audioDhashBands]] /
    * [[audioDhashBandsWide]] and the one-pass combined frame
    * ([[mediaHashShingleFrame]], whose WAV scan also feeds the
    * utterance shingles).
    */
  def audioBandsFromSums(sums: Array[Long], wide: Boolean): Array[Long] = {
    val bits = Array.tabulate(sums.length - 1)(f => sums(f + 1) > sums(f))
    bandsFromBits(bits, if (wide) 32 else 16)
  }

  /** Audio frames for the WIDE fingerprint: 257 equal windows → 256
    * adjacent-sum comparisons → the same 8 × 32-bit band layout as
    * [[dhashBandsWide]] — so a wide media state holds image AND audio
    * hashes at ONE band geometry (8 bands, hamming ≤ [[MaxHammingWide]]).
    */
  val AudioFramesWide = 257

  /** The audio production swap past [[BandBoundary]] — the exact
    * [[dhashBandsWide]] recipe one modality over (more frames → 256 bits
    * → 32-bit bands, saturation moves from ~10⁶ to ~10⁹ docs); a clip
    * shorter than 257 samples has no wide hash (None), the same
    * smaller-than-grid rule as the image side.
    */
  def audioDhashBandsWide(payload: Array[Byte]): Option[Array[Long]] =
    Multimodal.decodeWavFrameSums(payload, AudioFramesWide)
      .map(audioBandsFromSums(_, wide = true))

  /** Video windows per fingerprint: 65 equal frame windows → 64
    * adjacent-sum comparisons → the same 64-bit band layout as the image
    * and audio hashes.
    */
  val VideoWindows = 65

  /** Video dHash — the audio rule one modality over, on the pixel-stream
    * axis: 65 equal WINDOWS of frame luma sums (one
    * [[Multimodal.decodeAviFrameStats]] pass → [[videoBandsFromSums]] —
    * real AVI walk, exact integers, equal window lengths so sums compare
    * like means; the same stats pass serves the trim-leg shingles, so
    * the combined admission frame never decodes twice), bit v =
    * "window v+1 brighter than window v". The temporal envelope is
    * invariant to exactly the two edits that defeat byte hashing: a +c
    * BRIGHTNESS shifts every window sum by the same 1000·c·npx·fpw, and
    * a k× RE-RENDER multiplies every window by k² — neither flips a
    * comparison, so a brightened or re-rendered re-encode hashes
    * IDENTICALLY (both spec-pinned through the real encode → decode
    * path). Single-alignment convention like the audio side: a TRIMMED
    * copy is out of scope (video fingerprinting with shot alignment is a
    * different operator); this targets re-encoded/re-rendered copies of
    * the SAME clip, the dominant near-dup mode in scraped video corpora.
    */
  def videoDhashBands(payload: Array[Byte]): Option[Array[Long]] =
    Multimodal.decodeAviFrameStats(payload)
      .flatMap { case (_, _, sums, _) => videoBandsFromSums(sums, wide = false) }

  /** Window the raw frame sums and pack the comparison bits — the band
    * computation SHARED between the per-payload hash entries and the
    * one-decode combined frame ([[mediaHashShingleFrame]]): both video
    * signals derive from one [[Multimodal.decodeAviFrameStats]] pass.
    * None when fewer frames than the width's window count (the
    * smaller-than-grid rule).
    */
  def videoBandsFromSums(frameSums: Array[Long], wide: Boolean): Option[Array[Long]] = {
    val nW = if (wide) VideoWindowsWide else VideoWindows
    val n = frameSums.length
    if (n < nW) None
    else {
      val fpw = n / nW
      val sums = Array.tabulate(nW) { v =>
        var s = 0L
        var f = v * fpw
        val end = f + fpw
        while (f < end) { s += frameSums(f); f += 1 }
        s
      }
      val bits = Array.tabulate(nW - 1)(v => sums(v + 1) > sums(v))
      Some(bandsFromBits(bits, if (wide) 32 else 16))
    }
  }

  /** Distinct frame-bigram fingerprints from the raw frame moments — the
    * shingle computation shared the same way.
    */
  def shinglesFromStats(
      sums: Array[Long],
      sqs: Array[Long]): IndexedSeq[(Long, Long, Long, Long)] =
    if (sums.length < 2) Vector.empty
    else (0 until sums.length - 1)
      .map(f => (sums(f), sqs(f), sums(f + 1), sqs(f + 1)))
      .distinct

  /** The 2-D shingle rule — [[shinglesFromStats]] one dimension up: for
    * every tile (i, j) with a diagonal neighbor, the fingerprint is the
    * DIAGONAL pair's moments (sum(i,j), sq(i,j), sum(i+1,j+1),
    * sq(i+1,j+1)) over a row-major tx×ty tile-moment grid, distinct.
    * Tile moments are POSITION-FREE, so a crop whose offsets are
    * tile-aligned preserves every interior neighborhood's fingerprint
    * bit-exact — the containment signal; the diagonal pairing keeps the
    * 4-long fingerprint shape every trim-leg consumer already takes
    * while still encoding local 2-D structure (a lone tile's (sum, sq)
    * would pair any two images sharing one texture patch). Images under
    * 2×2 tiles contribute no shingles (the video under-2-frames rule).
    */
  def shinglesFromTiles(
      tx: Int,
      ty: Int,
      sums: Array[Long],
      sqs: Array[Long]): IndexedSeq[(Long, Long, Long, Long)] =
    if (tx < 2 || ty < 2) Vector.empty
    else (for { j <- 0 until ty - 1; i <- 0 until tx - 1 } yield {
      val a = j * tx + i
      val b = (j + 1) * tx + (i + 1)
      (sums(a), sqs(a), sums(b), sqs(b))
    }).distinct

  /** Video windows for the WIDE fingerprint: 257 equal windows → 256
    * adjacent-sum comparisons → the shared 8 × 32-bit band geometry. A
    * clip with fewer than 257 complete frames has no wide hash (None) —
    * the smaller-than-grid rule; [[mediaHashBands]] falls such clips
    * back to the classic hash in the width-suffixed `vid16` space.
    */
  val VideoWindowsWide = 257

  /** The video production swap past [[BandBoundary]] — the shared wide
    * recipe (more windows → 256 bits → 32-bit bands, saturation moves
    * from ~10⁶ to ~10⁹ docs); the boundary constant is SHARED with the
    * image and audio sides because it prices the band WIDTH, not the
    * signal.
    */
  def videoDhashBandsWide(payload: Array[Byte]): Option[Array[Long]] =
    Multimodal.decodeAviFrameStats(payload)
      .flatMap { case (_, _, sums, _) => videoBandsFromSums(sums, wide = true) }

  // ---------------------------------------------------------------------
  // banded near-dup pairs (the x04 candidate shape over band columns)
  // ---------------------------------------------------------------------

  /** Near-dup pairs (a, b), a < b, hamming ≤ `maxHamming` over a hashed
    * frame (doc_id, bands array<long>): [[Lsh]]'s self form over the
    * bands (the pigeonhole guarantees every qualifying pair surfaces),
    * then [[Lsh.hamming]] over the pair's full band vectors. Scale: the
    * join shuffles on 16-byte keys, never payloads; candidate mass is the
    * bucket formula in the object scaladoc (swap to the wide bands past
    * [[BandBoundary]]).
    *
    * CONTRACT: the pigeonhole is sound only for `maxHamming` < the number
    * of bands in the frame (a pair can otherwise differ in every band and
    * never surface as a candidate) — the public entries
    * ([[imageNearDupPairs]]/[[audioNearDupPairs]]) require it; this
    * primitive can't (band count is a runtime column shape). Callers
    * should also CUT the hashed frame first ([[DedupClusters.ckpt]]):
    * it's referenced five ways below and an uncut frame re-runs its
    * decode per reference.
    */
  def bandNearDupPairs(hashed: DataFrame, maxHamming: Int = MaxHamming): DataFrame = {
    // modality-keyed when the frame carries one ([[mediaHashFrame]]): an
    // image hash and an audio hash are different FUNCTIONS of different
    // signals — a 16-bit band collision across them is pure noise, so the
    // candidate key includes `mod` and cross-modal pairs never form
    val modCols = if (hashed.columns.contains("mod")) Seq(col("mod")) else Nil
    val (a, b) = Lsh.sides(Lsh.bandRows(hashed, col("bands"), col("doc_id") +: modCols: _*), "doc_id")
    val cand = Lsh.selfPairs(a, b, col("a"), col("b"))
    // per-row threshold clamp to size(bands) − 1: in a MIXED-width frame
    // (the small-media classic fallback rows beside wide rows) the
    // caller's wide threshold would both break the pigeonhole for the
    // 4-band rows (7 ≥ 4 bands ⇒ silent misses) and loosen their verify
    // (7 of 64 bits instead of 3). Both width defaults sit at bands − 1,
    // so the clamp IS the width-resolved default per row and a no-op on
    // uniform frames.
    cand
      .join(hashed.select(col("doc_id").as("a"), col("bands").as("ba")), "a")
      .join(hashed.select(col("doc_id").as("b"), col("bands").as("bb")), "b")
      .filter(Lsh.hamming(col("ba"), col("bb")) <= least(lit(maxHamming), size(col("ba")) - 1))
      .select("a", "b")
  }

  /** Hash a REAL media frame (doc_id, payload binary) into (doc_id,
    * decoded, bands): the general library entry the registered fixtures
    * stand in for. Rows whose payload no reader accepts (or that are
    * smaller than the grid) keep `decoded = false` with null bands —
    * decode failures are data, not exceptions (the [[Multimodal]] rule) —
    * so corpus triage can count them while [[imageNearDupPairs]] skips
    * them. Batched per partition like every decode step; `wide = true`
    * switches to [[dhashBandsWide]]'s 256-bit form (the [[BandBoundary]]
    * swap).
    */
  def imageHashFrame(media: DataFrame, wide: Boolean = false): DataFrame =
    hashFrame(media, p => if (wide) dhashBandsWide(p) else dhashBands(p))

  /** The audio twin of [[imageHashFrame]]: (doc_id, payload) →
    * (doc_id, decoded, bands) through [[audioDhashBands]]; `wide = true`
    * switches to [[audioDhashBandsWide]] (the [[BandBoundary]] swap,
    * same geometry as the image side's).
    */
  def audioHashFrame(media: DataFrame, wide: Boolean = false): DataFrame =
    hashFrame(media, p => if (wide) audioDhashBandsWide(p) else audioDhashBands(p))

  /** The video twin of [[imageHashFrame]]: (doc_id, payload) →
    * (doc_id, decoded, bands) through [[videoDhashBands]]; `wide = true`
    * switches to [[videoDhashBandsWide]] (the [[BandBoundary]] swap,
    * same geometry as the other modalities').
    */
  def videoHashFrame(media: DataFrame, wide: Boolean = false): DataFrame =
    hashFrame(media, p => if (wide) videoDhashBandsWide(p) else videoDhashBands(p))

  /** One admission/dedup modality's full status wiring: the band leg's
    * corpus/strict statuses plus the containment leg's (`None` would
    * declare a modality containment-free — since x153 all three carry
    * the column: video trims, image tile-aligned crops, audio
    * utterance-anchored excerpts).
    */
  /** One CONTAINMENT shingle space and its admission statuses — a
    * modality may carry several (video: `vid` frame bigrams for trims +
    * `vsp` per-frame tiles for spatial crops, since x154).
    */
  final case class ContainSpace(
      space: String,
      corpusStatus: String,
      strictStatus: String)

  final case class Modality(
      prefix: String,
      corpusStatus: String,
      strictStatus: String,
      contain: Seq[ContainSpace])

  /** The admission/dedup modality table — THE resolution point for every
    * status-splitting consumer (`Cli admit`, StreamingAdmit). A
    * `startsWith` on the prefix folds the width-suffixed small-media
    * spaces (`img16`/`aud16`/`vid16`) into their modality's BAND status;
    * adding a modality here is the whole per-status wiring, and the
    * `contain` column wires the `--ptrim` leg per SHINGLE SPACE the same
    * one-row way (shingle mods are exact space names, never
    * width-suffixed — the containment consumers match them exactly).
    * Audio's SAMPLE-grid containment form still does not exist (samples
    * carry no intrinsic framing); its containment signal is
    * utterance-anchored ([[audioUtteranceShingles]] — x151's
    * segmentation as the framing mechanism). Video carries TWO spaces:
    * temporal trims (`vid`, x147) and spatial crops (`vsp`, x154) — the
    * two re-post modes move different moments, so neither space can
    * serve the other.
    */
  val Modalities: Seq[Modality] = Seq(
    Modality("img", "near_dup_corpus_img", "near_dup_batch_img",
      Seq(ContainSpace("img", "near_dup_corpus_icrop", "near_dup_batch_icrop"))),
    Modality("aud", "near_dup_corpus_aud", "near_dup_batch_aud",
      Seq(ContainSpace("aud", "near_dup_corpus_atrim", "near_dup_batch_atrim"))),
    Modality("vid", "near_dup_corpus_vid", "near_dup_batch_vid",
      Seq(
        ContainSpace("vid", "near_dup_corpus_vtrim", "near_dup_batch_vtrim"),
        ContainSpace("vsp", "near_dup_corpus_vcrop", "near_dup_batch_vcrop"))))

  /** Every containment shingle space, flattened in [[Modalities]] order —
    * the iteration set for space-splitting consumers (status folds, the
    * `--pcontain` per-space sub-plans, the shingle-state meta).
    */
  val ShingleSpaces: Seq[ContainSpace] = Modalities.flatMap(_.contain)

  /** The r14 shingle-state contract — what a mod-tagged state WITHOUT a
    * geometry meta sidecar contains (bootstrapped before the vsp space
    * existed): the containment triad, no per-frame tile rows. Widening
    * such a state is a re-bootstrap (the bands-width rule).
    */
  val TriadSpaces: Seq[String] = Seq("img", "aud", "vid")

  /** Modality-detected perceptual hash of ONE payload: try the image
    * decoder first, then the audio RIFF walk, then the AVI walk — each
    * returns None on foreign bytes, so the order only matters for a
    * payload two would accept (none exists: a BMP header is not a RIFF
    * header, and within RIFF the 'WAVE'/'AVI ' fourccs are disjoint).
    * Some((mod, bands)) or None when no reader accepts it.
    *
    * SMALL MEDIA under `wide`: a payload too small for the wide grid
    * (images under 17×16, clips under 257 samples, videos under 257
    * frames) must not silently fall out of dedup/admission — recall for
    * thumbnails would turn off the moment a corpus crossed
    * [[BandBoundary]]. Such rows fall back to the CLASSIC hash under the
    * width-suffixed modality `img16` / `aud16` / `vid16`: a separate
    * candidate space (the mod key carries the width, so a 4-band hash
    * never meets an 8-band one), still deduped among themselves at the
    * classic threshold (the per-row clamp in
    * [[bandNearDupPairs]]/[[admitMediaCompare]]). Known, documented
    * limit: a SMALL copy of a LARGE image lives in the other space and
    * won't pair — different hash functions; x142's integer-scale
    * invariance only holds within one grid.
    */
  def mediaHashBands(payload: Array[Byte], wide: Boolean = false): Option[(String, Array[Long])] =
    (if (wide) dhashBandsWide(payload) else dhashBands(payload)) match {
      case Some(b) => Some(("img", b))
      case None =>
        (if (wide) audioDhashBandsWide(payload) else audioDhashBands(payload)) match {
          case Some(b) => Some(("aud", b))
          case None =>
            (if (wide) videoDhashBandsWide(payload) else videoDhashBands(payload)) match {
              case Some(b) => Some(("vid", b))
              case None if wide =>
                dhashBands(payload).map(("img16", _))
                  .orElse(audioDhashBands(payload).map(("aud16", _)))
                  .orElse(videoDhashBands(payload).map(("vid16", _)))
              case None => None
            }
        }
    }

  /** The MIXED-modality hash frame admission and the corpus `--pdedup`
    * stage run on: (doc_id, payload) → (doc_id, decoded, mod, nbytes,
    * bands) through [[mediaHashBands]] — images and audio clips hash side
    * by side in one pass, `mod` keeps them in DISJOINT candidate spaces
    * downstream ([[bandNearDupPairs]] keys on it), and rows no reader
    * accepts keep `decoded = false` (failures are data, the
    * [[Multimodal]] rule). `nbytes` is the payload size — the free
    * keep-BEST score (of N near-dup copies, the larger payload is the
    * higher-fidelity one; x142's rule) carried out of the single decode
    * pass so survivor selection never re-reads media. Both modalities
    * share one band geometry per width (4 × 16-bit classic, 8 × 32-bit
    * wide), so ONE state table and ONE hamming threshold serve both;
    * under `wide`, payloads too small for the wide grid fall back to the
    * classic hash in the width-suffixed `img16`/`aud16` spaces (see
    * [[mediaHashBands]]).
    */
  def mediaHashFrame(media: DataFrame, wide: Boolean = false): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(Multimodal.decodeBatchSize).flatMap(_.map { case (id, p) =>
          mediaHashBands(p, wide) match {
            case Some((m, b)) => (id, true, m, p.length.toLong, Some(b))
            case None         => (id, false, "", p.length.toLong, None)
          }
        })
      }
      .toDF("doc_id", "decoded", "mod", "nbytes", "bands")
  }

  /** The ONE-DECODE combined frame for the `--pmedia --ptrim` hot path:
    * [[mediaHashFrame]]'s columns PLUS a `shingles` array — a video
    * payload's bands and frame-bigram fingerprints both derive from a
    * single [[Multimodal.decodeAviFrameStats]] pass (the separate
    * band/shingle passes each re-ran the per-pixel luma decode, 2× the
    * dominant cost of the leg; caught in review). Image/audio rows carry
    * empty shingles; a SHORT video (2–64 frames) carries shingles with
    * `decoded = false` null bands — the trim leg still sees it, exactly
    * as the separate [[videoFrameShingles]] pass would. Band semantics
    * (modality detection order, `vid16` small-media fallback under wide)
    * are [[mediaHashBands]]'s, bit for bit.
    */
  def mediaHashShingleFrame(
      media: DataFrame,
      wide: Boolean = false,
      vsp: Boolean = true,
      rscales: Seq[Int] = Nil): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val (gw, gh, bb) = if (wide) (16, 16, 32) else (8, 8, 16)
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(Multimodal.decodeBatchSize).flatMap(_.map { case (id, p) =>
          val none = Vector.empty[(Long, Long, Long, Long)]
          val noneRs = Vector.empty[(Int, Long, Long, Long, Long)]
          // the rescale spaces ride the SAME image pixel pass (x156):
          // per k a (scale, s1, q1, s2, q2) row set of the canonical
          // k-box-downscale's tile fingerprints — the state/append role
          def rsRows(sc: Seq[(Int, Int, Array[Long], Array[Long])])
            : Vector[(Int, Long, Long, Long, Long)] =
            rscales.zip(sc).flatMap { case (k, (ktx, kty, ks, kq)) =>
              shinglesFromTiles(ktx, kty, ks, kq)
                .map { case (a, b, c, d) => (k, a, b, c, d) }
            }.toVector
          // `shmod` names the SHINGLE space separately from the band
          // modality: image shingles are width-independent (fixed-px
          // tiles — an img16 small image shares the img shingle space,
          // so a small crop of a small image still matches), and a SHORT
          // video (2-64 frames) carries vid shingles with no bands at
          // all (mod = ""). Videos carry a SECOND shingle set (`sh2`,
          // the vsp per-frame tile space — x154) out of the same pixel
          // pass; empty for every other modality and when `vsp = false`
          // (a batch against a pre-vsp state skips the tile
          // accumulation entirely).
          val (dec, m, b, shmod, sh, sh2, rsh) =
            Multimodal.decodeImageBlocksTilesScales(p, gw + 1, gh, TileSize, rscales) match {
              case Some((gs, gc, tx, ty, ts, tq, sc)) =>
                (true, "img", Some(dhashBandsFromBlocks(gs, gc, gw, gh, bb)),
                  "img", shinglesFromTiles(tx, ty, ts, tq), none, rsRows(sc))
              case None =>
                // ONE byte scan serves both audio signals: window sums
                // (bands) + utterance voiced-core moments (containment
                // shingles); a clip under the wide window count falls
                // back to the classic hash on what is by definition a
                // tiny payload
                Multimodal.decodeWavWindowsUtterances(
                  p, if (wide) AudioFramesWide else AudioFrames) match {
                  case Some((wsums, us, uq)) =>
                    val sh = shinglesFromStats(us, uq)
                    wsums match {
                      case Some(s) =>
                        (true, "aud", Some(audioBandsFromSums(s, wide)), "aud", sh, none,
                          noneRs)
                      case None if wide =>
                        audioDhashBands(p) match {
                          case Some(ab) =>
                            (true, "aud16", Some(ab), "aud", sh, none, noneRs)
                          case None => (false, "", None, "aud", sh, none, noneRs)
                        }
                      case None => (false, "", None, "aud", sh, none, noneRs)
                    }
                  case None =>
                    val aviStats =
                      if (vsp)
                        Multimodal.decodeAviFrameStatsTiles(p, TileSize)
                          .map { case (sums, sqs, tx, ty, fs, fq) =>
                            (sums, sqs, distinctFrameTileShingles(tx, ty, fs, fq))
                          }
                      else
                        Multimodal.decodeAviFrameStats(p)
                          .map { case (_, _, sums, sqs) => (sums, sqs, none) }
                    aviStats match {
                      case Some((sums, sqs, vspSh)) =>
                        val shingles = shinglesFromStats(sums, sqs)
                        videoBandsFromSums(sums, wide) match {
                          case Some(vb) =>
                            (true, "vid", Some(vb), "vid", shingles, vspSh, noneRs)
                          case None if wide =>
                            videoBandsFromSums(sums, wide = false) match {
                              case Some(vb) =>
                                (true, "vid16", Some(vb), "vid", shingles, vspSh, noneRs)
                              case None =>
                                (false, "", None, "vid", shingles, vspSh, noneRs)
                            }
                          case None => (false, "", None, "vid", shingles, vspSh, noneRs)
                        }
                      case None if wide =>
                        // the small-IMAGE fallback, still ONE decode pass
                        // (classic grid + tiles together); small audio is
                        // handled inside the WAV branch above — its
                        // combined scan accepts any PCM clip
                        Multimodal.decodeImageBlocksTilesScales(p, 9, 8, TileSize, rscales)
                          .map { case (gs, gc, tx, ty, ts, tq, sc) =>
                            (true, "img16",
                              Some(dhashBandsFromBlocks(gs, gc, 8, 8, 16)),
                              "img", shinglesFromTiles(tx, ty, ts, tq), none, rsRows(sc))
                          }
                          .getOrElse((false, "", None, "", none, none, noneRs))
                      case None => (false, "", None, "", none, none, noneRs)
                    }
                }
            }
          (id, dec, m, p.length.toLong, b, shmod, sh, sh2, rsh)
        })
      }
      .toDF("doc_id", "decoded", "mod", "nbytes", "bands", "shmod", "shingles",
        "vsp_shingles", "rs_shingles")
  }

  /** Explode a [[mediaHashShingleFrame]]'s shingle sets into the
    * (doc_id, mod, s1, q1, s2, q2) shape every containment-leg consumer
    * takes — `mod` is the SHINGLE space (`shmod`: img tiles / aud
    * utterance bigrams / vid frame bigrams, plus the video rows' second
    * `vsp` per-frame tile set — disjoint candidate spaces even on
    * numeric collision). A combined frame from before the vsp column
    * (r14 layout) explodes its single set unchanged.
    */
  def shingleRows(combined: DataFrame): DataFrame = {
    def rows(df: DataFrame, modCol: Column, shCol: Column): DataFrame =
      df.filter(size(shCol) > 0)
        .select(col("doc_id"), modCol.as("mod"), explode(shCol).as("sh"))
        .select(col("doc_id"), col("mod"), col("sh._1").as("s1"), col("sh._2").as("q1"),
          col("sh._3").as("s2"), col("sh._4").as("q2"))
    val base = rows(combined, col("shmod"), col("shingles"))
    val withVsp =
      if (!combined.columns.contains("vsp_shingles")) base
      else base.unionByName(rows(combined, lit("vsp"), col("vsp_shingles")))
    if (!combined.columns.contains("rs_shingles")) withVsp
    else withVsp.unionByName(
      combined.filter(size(col("rs_shingles")) > 0)
        .select(col("doc_id"), explode(col("rs_shingles")).as("sh"))
        .select(col("doc_id"), concat(lit("rs"), col("sh._1")).as("mod"),
          col("sh._2").as("s1"), col("sh._3").as("q1"),
          col("sh._4").as("s2"), col("sh._5").as("q2")))
  }

  /** Near-dup pairs over a MIXED image/audio/video media frame — the corpus
    * `--pdedup` stage's pair generator: [[mediaHashFrame]] (undecodable
    * rows dropped) → modality-keyed [[bandNearDupPairs]]. The width is
    * the caller's [[mediaWideFor]] decision on the media count; the
    * default threshold resolves per width like [[imageNearDupPairs]].
    */
  def mediaNearDupPairs(
      media: DataFrame,
      wide: Boolean = false,
      maxHamming: Int = -1): DataFrame = {
    val nBands = widthBands(wide)
    val mh = if (maxHamming < 0) widthThreshold(wide) else maxHamming
    require(mh < nBands,
      s"maxHamming=$mh with $nBands bands breaks the pigeonhole guarantee " +
        "(a qualifying pair can differ in every band and never become a candidate)")
    bandNearDupPairs(
      DedupClusters.ckpt(mediaHashFrame(media, wide).filter(col("decoded"))),
      mh)
  }

  private def hashFrame(
      media: DataFrame,
      hash: Array[Byte] => Option[Array[Long]]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(Multimodal.decodeBatchSize).flatMap(_.map { case (id, p) =>
          hash(p) match {
            case Some(b) => (id, true, Some(b))
            case None    => (id, false, None)
          }
        })
      }
      .toDF("doc_id", "decoded", "bands")
  }

  /** Near-dup pairs over real image media: [[imageHashFrame]] (undecodable
    * rows dropped — count them upstream via the `decoded` flag) →
    * [[bandNearDupPairs]]. Feed the pairs to
    * [[DedupClusters.connectedComponents]] / `Dedup.dedupByPairs` for the
    * keep-one cut, exactly like the text pair generators.
    *
    * `maxHamming < 0` (the default) resolves to the width-appropriate
    * threshold — [[MaxHamming]] classic, [[MaxHammingWide]] wide — so
    * flipping `wide` on never silently tightens recall; an explicit value
    * must keep the pigeonhole sound (require below). The hashed frame is
    * cut once ([[DedupClusters.ckpt]]) before the pair join references it
    * five ways — without the cut every reference re-decodes the full
    * corpus' payloads; run under a checkpoint dir on a real cluster so the
    * cut is storage-backed (the x30/x50 rule).
    */
  def imageNearDupPairs(
      media: DataFrame,
      wide: Boolean = false,
      maxHamming: Int = -1): DataFrame = {
    val nBands = widthBands(wide)
    val mh = if (maxHamming < 0) widthThreshold(wide) else maxHamming
    require(mh < nBands,
      s"maxHamming=$mh with $nBands bands breaks the pigeonhole guarantee " +
        "(a qualifying pair can differ in every band and never become a candidate)")
    bandNearDupPairs(
      DedupClusters.ckpt(imageHashFrame(media, wide).filter(col("decoded"))),
      mh)
  }

  /** The audio twin of [[imageNearDupPairs]] — same auto-threshold rule,
    * same [[BandBoundary]] swap (`wide = true` → [[audioDhashBandsWide]]'s
    * 256-bit form; the boundary constant is SHARED with the image side
    * because it prices the 16-bit BAND geometry, not the signal).
    */
  def audioNearDupPairs(
      media: DataFrame,
      wide: Boolean = false,
      maxHamming: Int = -1): DataFrame = {
    val nBands = widthBands(wide)
    val mh = if (maxHamming < 0) widthThreshold(wide) else maxHamming
    require(mh < nBands,
      s"maxHamming=$mh with $nBands bands breaks the pigeonhole guarantee " +
        "(a qualifying pair can differ in every band and never become a candidate)")
    bandNearDupPairs(
      DedupClusters.ckpt(audioHashFrame(media, wide).filter(col("decoded"))),
      mh)
  }

  /** DISTINCT frame-bigram shingles of each video: one row per distinct
    * ((sum, sq)_f, (sum, sq)_f+1) pair of ADJACENT frame luma moments —
    * the k=2 shingle of the frame stream, the x03/x25 idea one modality
    * over. Frames are the container's own content units, so a TRIMMED
    * copy keeps its frames' fingerprints bit-exact — the case the
    * single-alignment temporal dHash ([[videoDhashBands]]) declares out
    * of scope. (Audio's SAMPLE-grid containment form does not exist —
    * WAV samples carry no intrinsic framing, so
    * [[Multimodal.decodeWavFrameSums]] re-bins the WHOLE clip into equal
    * windows and any trim moves every window boundary; since x153 its
    * containment signal is UTTERANCE-anchored instead:
    * [[audioUtteranceShingles]].) The TEMPORAL axis is this signal's
    * whole scope: a SPATIALLY cropped re-render (letterbox removal,
    * watermark strip) moves every frame's whole-frame moment and evades
    * both this form and the temporal dHash — that re-post mode is
    * covered by the per-frame TILE shingle space instead
    * ([[videoFrameTileShingles]], x154), the two video containment
    * signals covering each other's blind spot the way the dHash/trim
    * pair does. Undecodable payloads and clips under 2 complete
    * frames contribute no rows (failures are data). Both frame moments
    * go into the fingerprint — two different frames colliding on sum AND
    * sum-of-squares is the same documented approximation as
    * [[Multimodal.decodeAviQuality]]'s frozen rule.
    */
  def videoFrameShingles(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(Multimodal.decodeBatchSize).flatMap(_.flatMap { case (id, p) =>
          Multimodal.decodeAviFrameStats(p) match {
            case Some((_, _, sums, sqs)) =>
              shinglesFromStats(sums, sqs).map { case (a, b, c, d) => (id, a, b, c, d) }
            case _ => Nil
          }
        })
      }
      .toDF("doc_id", "s1", "q1", "s2", "q2")
  }

  /** Per-image CROP-containment shingles — [[videoFrameShingles]] one
    * modality over, with TILES as the content units frames play for
    * video: real javax.imageio decode into fixed `tile`-pixel tile
    * moments ([[Multimodal.decodeImageTileStats]] — origin-anchored,
    * partial edge tiles dropped), fingerprinted as diagonal 2×2
    * neighborhoods ([[shinglesFromTiles]]). A crop whose offsets are
    * MULTIPLES of `tile` keeps every interior neighborhood bit-exact —
    * the re-post mode that defeats BOTH whole-image hashes (a crop
    * shifts every dHash block boundary, classic and wide; before this
    * operator it sailed through every perceptual signal silently).
    * HONEST LIMIT, the x142-integral-scale shape: a crop at an offset
    * NOT a multiple of `tile` moves every tile boundary and shares no
    * fingerprints — the same no-intrinsic-framing problem raw audio
    * samples have; tiles give images a COARSER framing that aligned
    * crops respect (utterances play that role for audio — x153). A crop that also re-brightens moves
    * every moment and is out of scope for this signal too (the video
    * trim rule). Undecodable payloads and images under 2×2 tiles
    * contribute no rows. Shingle count is (w/tile−1)·(h/tile−1) — the
    * frames-per-clip shape, bounded by [[Multimodal.MaxDecodePixels]]/tile²
    * ≈ 1M at the header cap.
    */
  def imageTileShingles(media: DataFrame, tile: Int = TileSize): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(Multimodal.decodeBatchSize).flatMap(_.flatMap { case (id, p) =>
          Multimodal.decodeImageTileStats(p, tile) match {
            case Some((tx, ty, sums, sqs)) =>
              shinglesFromTiles(tx, ty, sums, sqs)
                .map { case (a, b, c, d) => (id, a, b, c, d) }
            case _ => Nil
          }
        })
      }
      .toDF("doc_id", "s1", "q1", "s2", "q2")
  }

  /** The crop-containment tile edge: 8 px — small enough that real crops
    * (banner strips, letterbox bars, watermark margins are usually
    * multiples of 8 or 16) align often, large enough that a tile carries
    * texture (64 pixels of exact moments).
    */
  val TileSize = 8

  /** The canonical rescale set for RESIZED-crop containment (x156): the
    * mip-level reductions (half and quarter size — the thumbnail chain's
    * standard box reductions; a 4× resize is also what two 2× halvings
    * produce). Each k multiplies the corpus side's candidate mass by
    * ~1/k² (a k×-downscale carries ~1/k² of the native tile count), so
    * the whole set costs under +31% shingle rows. Parameterized
    * everywhere (`scales`) — the SET is a corpus-level contract recorded
    * in the shingle-state meta via the per-scale space names
    * ([[RescaleSpaces]]), like every other shingle geometry choice.
    */
  val RescaleSet: Seq[Int] = Seq(2, 4)

  /** One RESCALE shingle space: `rs<k>` holds the tile-neighborhood
    * fingerprints of the canonical k× box DOWNSCALE of each image —
    * deliberately ASYMMETRIC, unlike every [[ContainSpace]]: the
    * state/corpus side carries SCALED fingerprints, while a batch doc
    * compares its NATIVE fingerprints against them (a k×-downscaled crop
    * re-post's native tiles ARE tiles of the k×-downscaled original).
    * The asymmetry is why these spaces live outside [[ShingleSpaces]]'s
    * symmetric per-space engines and carry their own admission
    * qualification ([[admitTrimStrictLosers]]'s bipartite leg).
    */
  final case class RescaleSpace(scale: Int, space: String)

  /** Every rescale space, in [[RescaleSet]] order. Both fold to ONE
    * status pair — the signal is "resized crop", whatever the scale.
    */
  val RescaleSpaces: Seq[RescaleSpace] =
    RescaleSet.map(k => RescaleSpace(k, s"rs$k"))

  /** The resized-crop admission statuses ([[RescaleSpaces]]' fold). */
  val RcropCorpusStatus = "near_dup_corpus_rcrop"
  val RcropStrictStatus = "near_dup_batch_rcrop"

  /** Every shingle space a NEW admission state records: the symmetric
    * containment spaces plus the rescale spaces — the
    * [[writeShingleMeta]] default. Meta-carrying states own their spaces
    * (an r15-meta state without rs rows keeps its four-space contract:
    * rs neither compares nor appends against it — widening is a
    * re-bootstrap, the established evolution rule).
    */
  val AdmitShingleSpaces: Seq[String] =
    ShingleSpaces.map(_.space) ++ RescaleSpaces.map(_.space)

  /** Parse a state's rescale SCALES out of its space list (`rs2` → 2) —
    * the batch decode must know which canonical downscales to run.
    */
  def rescaleScalesOf(spaces: Seq[String]): Seq[Int] =
    RescaleSpaces.filter(sp => spaces.contains(sp.space)).map(_.scale)

  /** Per-image MULTI-SCALE tile shingles — the x156 producer: ONE
    * streaming pixel pass ([[Multimodal.decodeImageBlocksTilesScales]])
    * yields the native tile-neighborhood fingerprints (`scale = 1`,
    * bit-identical to [[imageTileShingles]]' rows — spec-pinned) AND,
    * per k ∈ `scales`, the fingerprints of the canonical k× box
    * DOWNSCALE of the image. A crop re-post RESIZED by k matches the
    * original through the scaled sets: crop offsets that are multiples
    * of `tile`·k commute with the canonical downscale, so the re-post's
    * NATIVE tiles are bit-exact tiles of the original's k×-downscale —
    * the one re-post mode every prior perceptual signal missed (dHash
    * blocks AND tile boundaries all move under crop-then-rescale; the
    * r15 verdict's #1). HONEST LIMITS, each the established per-space
    * shape: a rescale factor outside `scales` shares nothing (the
    * canonical-set rule — mip factors cover the dominant thumbnail
    * chain); crop offsets not multiples of tile·k shift every scaled
    * tile boundary (the x152 framing rule, one scale level up); a
    * resampler with a different kernel or rounding than the canonical
    * per-channel round-half-up box average moves every moment (the
    * brightness rule's shape — the canonical convention IS the
    * area-average reduction thumbnailers implement); re-brightened
    * crops move every moment (the trim rule). UPSCALED re-posts are the
    * mirror case (the re-post's own scaled set vs the original's native
    * set) and ride the same frame by swapping which side filters
    * `scale = 1` — documented at the engines.
    */
  def imageMultiScaleTileShingles(
      media: DataFrame,
      tile: Int = TileSize,
      scales: Seq[Int] = RescaleSet): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(Multimodal.decodeBatchSize).flatMap(_.flatMap { case (id, p) =>
          Multimodal.decodeImageBlocksTilesScales(p, 0, 0, tile, scales) match {
            case Some((_, _, tx, ty, ts, tq, sc)) =>
              shinglesFromTiles(tx, ty, ts, tq)
                .map { case (a, b, c, d) => (id, 1, a, b, c, d) } ++
                scales.zip(sc).flatMap { case (k, (ktx, kty, ks, kq)) =>
                  shinglesFromTiles(ktx, kty, ks, kq)
                    .map { case (a, b, c, d) => (id, k, a, b, c, d) }
                }
            case None => Nil
          }
        })
      }
      .toDF("doc_id", "scale", "s1", "q1", "s2", "q2")
  }

  /** DIRECTIONAL RESIZED-crop containment — x25's rule across SCALE
    * levels, the x155 bipartite shape within one modality: (doc_id,
    * src_id, scale, n_inter, n_a) where den·|A∩S_k| ≥ num·|A| for A a
    * doc's NATIVE fingerprint set and S_k another doc's scale-k set
    * ([[imageMultiScaleTileShingles]]). Directional on the native side:
    * "is this image a k×-downscaled (possibly cropped) region of that
    * one" — the thumbnail-provenance question. Per-scale verdicts (the
    * per-space rule): the reported `scale` names which reduction saw the
    * re-post. EXACTNESS BASELINE shape — raw fingerprint join; the scale
    * path is [[resizedCropContainmentPairsLsh]].
    */
  def resizedCropContainmentPairs(
      media: DataFrame,
      tile: Int = TileSize,
      scales: Seq[Int] = RescaleSet,
      num: Int = 4,
      den: Int = 5): DataFrame = {
    require(num > 0 && den >= num, s"containment threshold $num/$den must be in (0, 1]")
    val sh = DedupClusters.ckpt(
      imageMultiScaleTileShingles(media, tile, scales))
    val nat = sh.filter(col("scale") === 1).drop("scale")
    val scl = sh.filter(col("scale") =!= 1)
    val keys = Seq("s1", "q1", "s2", "q2")
    val sz = nat.groupBy("doc_id").agg(count(lit(1)).as("n_a")).hint("merge")
    nat.join(
      scl.select(col("doc_id").as("src_id") +: col("scale") +: keys.map(col): _*), keys)
      .filter(col("doc_id") =!= col("src_id"))
      .groupBy("doc_id", "src_id", "scale").agg(count(lit(1)).as("n_inter"))
      .join(sz, "doc_id")
      .filter(col("n_inter") * den >= col("n_a") * num)
      .select("doc_id", "src_id", "scale", "n_inter", "n_a")
  }

  /** The resized-crop SCALE path — the bipartite LSH recipe
    * ([[thumbnailContainmentPairsLsh]]) across scale levels:
    * [[Lsh.containmentBands]] of each doc's NATIVE set AND each (doc, k)
    * SCALED set, [[Lsh]]'s cross form native-vs-scaled (a doc never
    * pairs with itself), exact directional verify on candidates.
    * Geometry defaults RECALL-leaning (16 minhashes in 8 bands of 2, J² —
    * the dedup-stage rationale: a missed resized thumbnail ships forever).
    * Scale: candidate mass follows band collisions; joins shuffle 16-byte
    * band keys and 32-byte fingerprints, never payloads; each image is
    * decoded once for ALL scale levels.
    */
  def resizedCropContainmentPairsLsh(
      media: DataFrame,
      tile: Int = TileSize,
      scales: Seq[Int] = RescaleSet,
      num: Int = 4,
      den: Int = 5,
      k: Int = 16,
      bands: Int = 8): DataFrame = {
    require(num > 0 && den >= num, s"containment threshold $num/$den must be in (0, 1]")
    require(k % bands == 0, s"k=$k minhashes must divide into $bands bands")
    val sh = DedupClusters.ckpt(
      imageMultiScaleTileShingles(media, tile, scales))
    val nat = sh.filter(col("scale") === 1).drop("scale")
    val scl = sh.filter(col("scale") =!= 1)
    val nb = Lsh.containmentBands(nat, Seq(col("doc_id")), k, bands)
    val sb = Lsh.containmentBands(scl, Seq(col("doc_id").as("src_id"), col("scale")), k, bands)
    val cand = Lsh.crossPairs(nb, sb, Seq(col("doc_id"), col("src_id"), col("scale")),
      differ = Some("doc_id" -> "src_id"))
    val sz = nat.groupBy("doc_id").agg(count(lit(1)).as("n_a")).hint("merge")
    Lsh.intersections(cand, nat, Seq("doc_id"),
      scl.toDF(Seq("src_id", "scale") ++ Lsh.Fingerprint: _*), Seq("src_id", "scale"))
      .join(sz, "doc_id")
      .filter(Lsh.contained(col("n_inter"), col("n_a"), num, den))
      .select("doc_id", "src_id", "scale", "n_inter", "n_a")
  }

  /** Batch-side broadcast boundary for [[admitTrimCompare]]: 2M shingle
    * rows ≈ 100 MB at the 6-long row width — well inside an executor
    * heap, and a daily admission batch (250–100k docs × ~20–120
    * fingerprints) sits orders of magnitude below it, while a corpus
    * STATE (64M rows at the 100× smoke, billions at 100 TB) sits far
    * above. Measured reasoning, the NarrowSimhashBoundary discipline:
    * below the boundary the state is scanned once per run (broadcast
    * hash join); above it the join falls back to the shuffle form.
    */
  val BroadcastBatchShingleRows = 2000000L

  /** Per-clip AUDIO containment shingles — the third containment
    * modality (x153), [[videoFrameShingles]]'s rule with UTTERANCES as
    * the content units: the x151 segmentation gives audio the
    * content-anchored framing raw samples lack (any sample-grid framing
    * moves with a cut, the reason no SAMPLE-level containment form
    * exists), per-utterance voiced-core moments
    * ([[Multimodal.decodeWavUtteranceStats]] — leading/trailing sub-gap
    * silence excluded, so an excerpt cut anywhere INSIDE a silence
    * separator keeps every surviving utterance's fingerprint bit-exact),
    * shingled as adjacent-utterance bigrams ([[shinglesFromStats]] — the
    * same k=2 rule, the same 4-long shape). Catches the podcast/speech
    * excerpt re-cut at pauses — the re-post mode the gain-invariant
    * whole-clip hash ([[audioDhashBands]]) misses BY DESIGN
    * (single-alignment). Documented limits: a cut INSIDE an utterance
    * kills that utterance's bigrams (one edge cut is absorbed by the
    * 0.8 ratio like the video one-frame edit); continuous audio with no
    * ≥ gapMin silence is one utterance → no bigrams → no signal; a
    * re-gained copy moves every moment (the brightness rule — the two
    * audio signals cover each other's blind spot). Clips under 2
    * utterances contribute no rows.
    */
  def audioUtteranceShingles(
      media: DataFrame,
      silenceMax: Long = 1L,
      gapMin: Int = 8): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.flatMap { case (id, p) =>
          Multimodal.decodeWavUtteranceStats(p, silenceMax, gapMin) match {
            case Some((sums, sqs)) =>
              shinglesFromStats(sums, sqs)
                .map { case (a, b, c, d) => (id, a, b, c, d) }
            case _ => Nil
          }
        })
      }
      .toDF("doc_id", "s1", "q1", "s2", "q2")
  }

  /** DIRECTIONAL audio containment — the x147/x152 rule on the third
    * modality: den·|A∩B| ≥ num·|A| over the distinct adjacent-utterance
    * bigram fingerprints. Shares the exact engine verbatim; the scale
    * path is [[audioContainmentPairsLsh]].
    */
  def audioContainmentPairs(
      media: DataFrame,
      num: Int = 4,
      den: Int = 5): DataFrame =
    containmentPairsFromShingles(audioUtteranceShingles(media), num, den)

  /** The audio-containment SCALE path — the shared LSH engine on
    * [[audioUtteranceShingles]]; same cross-engine md5 minhashes and
    * inlined permutation literals (oracle-keyed as
    * x153_utt_containment_lsh), same Jaccard S-curve recall contract.
    */
  def audioContainmentPairsLsh(
      media: DataFrame,
      num: Int = 4,
      den: Int = 5,
      k: Int = 16,
      bands: Int = 4): DataFrame =
    containmentPairsLshFromShingles(
      audioUtteranceShingles(media), num, den, k, bands)

  /** Per-video SPATIAL-crop containment shingles — the fourth shingle
    * space (`vsp`), closing the one evasion the r14 triad left open: a
    * spatially cropped video re-render (letterbox removal, watermark
    * strip, aspect re-frame) keeps every frame temporally but moves
    * every frame's WHOLE-FRAME luma moment, so it evades both the
    * temporal dHash ([[videoDhashBands]]) and the trim signal
    * ([[videoFrameShingles]]) — before this operator it sailed through
    * every video signal silently. The x152 recipe composed per frame:
    * fixed `tile`-px origin-anchored tile moments of EVERY frame
    * ([[Multimodal.decodeAviFrameTileStats]] — the image tile decoder's
    * grid through the hardened AVI walk, bottom-up DIB rows mapped to
    * image space so a tile is bit-identical to the same pixels through
    * javax.imageio), fingerprinted as diagonal 2×2 tile neighborhoods
    * ([[shinglesFromTiles]]) and DISTINCT-unioned across frames per
    * video (frames of one payload dedupe locally in the decode pass —
    * no shuffle). A crop at tile-aligned offsets keeps every interior
    * neighborhood of every frame bit-exact → containment ~1.0 in the
    * source. HONEST LIMITS (each the established per-space rule): a
    * non-multiple-of-`tile` crop offset moves every tile boundary and
    * shares nothing (the x152 framing rule); a crop that also
    * re-brightens moves every moment (the trim-signal rule); a crop
    * that also TRIMS temporally still matches (the surviving frames'
    * interior neighborhoods are a subset — the two video spaces compose
    * rather than conflict). Frames under 2×2 tiles contribute no rows.
    */
  def videoFrameTileShingles(media: DataFrame, tile: Int = TileSize): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.flatMap { case (id, p) =>
          videoTileShingleSet(p, tile).map { case (a, b, c, d) => (id, a, b, c, d) }
        })
      }
      .toDF("doc_id", "s1", "q1", "s2", "q2")
  }

  /** The per-payload vsp shingle SET — [[videoFrameTileShingles]]'s
    * decode step, shared with the combined one-pass frame: per-frame
    * diagonal tile neighborhoods, DISTINCT across the clip's frames
    * (locally — all frames of a payload are in hand, so the dedupe costs
    * no shuffle and the engine's rows-are-distinct-per-doc contract
    * holds).
    */
  private def videoTileShingleSet(
      p: Array[Byte],
      tile: Int): Vector[(Long, Long, Long, Long)] =
    Multimodal.decodeAviFrameTileStats(p, tile) match {
      case Some((tx, ty, fs, fq)) => distinctFrameTileShingles(tx, ty, fs, fq)
      case None                   => Vector.empty
    }

  /** Distinct-across-frames diagonal tile neighborhoods from per-frame
    * tile moment grids — the shared tail of [[videoTileShingleSet]] and
    * the combined one-pass decode.
    */
  private[xscale] def distinctFrameTileShingles(
      tx: Int,
      ty: Int,
      fs: Array[Array[Long]],
      fq: Array[Array[Long]]): Vector[(Long, Long, Long, Long)] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[(Long, Long, Long, Long)]
    var f = 0
    while (f < fs.length) {
      shinglesFromTiles(tx, ty, fs(f), fq(f)).foreach(seen += _)
      f += 1
    }
    seen.toVector
  }

  /** [[videoFrameTileShingles]] WITH frame identity — the thumbnail
    * provenance side (x155) needs per-FRAME shingle sets (a thumbnail is
    * contained in one frame, not diluted across the clip's union):
    * (doc_id, frame_idx, s1, q1, s2, q2), distinct within a frame
    * ([[shinglesFromTiles]]'s own distinct), frame_idx counting complete
    * decoded frames in 'movi' order.
    */
  def videoFrameTileShinglesByFrame(media: DataFrame, tile: Int = TileSize): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.flatMap { case (id, p) =>
          Multimodal.decodeAviFrameTileStats(p, tile) match {
            case Some((tx, ty, fs, fq)) =>
              fs.indices.flatMap { f =>
                shinglesFromTiles(tx, ty, fs(f), fq(f))
                  .map { case (a, b, c, d) => (id, f.toLong, a, b, c, d) }
              }
            case None => Nil
          }
        })
      }
      .toDF("doc_id", "frame_idx", "s1", "q1", "s2", "q2")
  }

  /** DIRECTIONAL video SPATIAL-crop containment — the x147/x152/x153
    * rule on the fourth shingle space: den·|A∩B| ≥ num·|A| over the
    * distinct per-frame tile-neighborhood fingerprints. Shares the exact
    * engine verbatim; the scale path is
    * [[videoSpatialContainmentPairsLsh]].
    */
  def videoSpatialContainmentPairs(
      media: DataFrame,
      tile: Int = TileSize,
      num: Int = 4,
      den: Int = 5): DataFrame =
    containmentPairsFromShingles(videoFrameTileShingles(media, tile), num, den)

  /** The video spatial-crop SCALE path — the shared LSH engine on
    * [[videoFrameTileShingles]]; same cross-engine md5 minhashes and
    * inlined permutation literals (oracle-keyed as
    * x154_vcrop_containment_lsh), same Jaccard S-curve recall contract.
    */
  def videoSpatialContainmentPairsLsh(
      media: DataFrame,
      tile: Int = TileSize,
      num: Int = 4,
      den: Int = 5,
      k: Int = 16,
      bands: Int = 4): DataFrame =
    containmentPairsLshFromShingles(
      videoFrameTileShingles(media, tile), num, den, k, bands)

  /** Modality-detected CONTAINMENT shingles over mixed media — the
    * shingle-space twin of [[mediaHashFrame]], the scan the `--ptrim`
    * state bootstraps from: (doc_id, mod, s1, q1, s2, q2) where images
    * contribute tile-neighborhood fingerprints (`mod = "img"`,
    * [[imageTileShingles]]'s rule), audio clips utterance bigrams
    * (`mod = "aud"`, [[audioUtteranceShingles]]'s rule — the x151
    * segmentation as content-anchored framing) and videos BOTH video
    * spaces — frame-bigram fingerprints (`mod = "vid"`,
    * [[videoFrameShingles]]'s rule, the trim signal) and per-frame
    * tile-neighborhood fingerprints (`mod = "vsp"`,
    * [[videoFrameTileShingles]]'s rule, the x154 spatial-crop signal) in
    * ONE pixel pass ([[Multimodal.decodeAviFrameStatsTiles]]); with
    * `rscales` non-empty, images ALSO emit their canonical k×-downscale
    * fingerprints as `rs<k>` rows ([[RescaleSpaces]] — the x156 STATE
    * role: scaled rows bootstrap/append; the compare feed re-tags the
    * img rows instead) out of the same image pixel pass — ONE
    * decode pass per payload, modality order identical to
    * [[mediaHashBands]] (image reader first, RIFF/WAVE, then RIFF/AVI —
    * fourccs disjoint). `mod` rides every shingle row so the fingerprint
    * families stay in DISJOINT candidate spaces even when their integer
    * moments collide numerically. Shingles are width-independent (no
    * wide concept): a small crop of a LARGE image shares the img space —
    * the cross-size case the width-suffixed band fallback documents as
    * its limit is covered HERE. `vsp = false` reproduces the r14 triad
    * scan (for batches against a pre-vsp state, where vsp rows would
    * neither compare nor append — the decode is skipped, not discarded).
    */
  def mediaShingles(
      media: DataFrame,
      tile: Int = TileSize,
      vsp: Boolean = true,
      rscales: Seq[Int] = Nil): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.flatMap { case (id, p) =>
          // rscales non-empty: the SAME pixel pass also accumulates each
          // canonical k-box-downscale's tile moments, emitted as rs<k>
          // rows — the x156 rescale spaces (SCALED fingerprints: the
          // state/append role; the compare feed re-tags img rows instead,
          // per the RescaleSpace asymmetry contract)
          (if (rscales.nonEmpty)
            Multimodal.decodeImageBlocksTilesScales(p, 0, 0, tile, rscales) match {
              case Some((_, _, tx, ty, ts, tq, sc)) =>
                Some(
                  shinglesFromTiles(tx, ty, ts, tq)
                    .map { case (a, b, c, d) => (id, "img", a, b, c, d) } ++
                    rscales.zip(sc).flatMap { case (k, (ktx, kty, ks, kq)) =>
                      shinglesFromTiles(ktx, kty, ks, kq)
                        .map { case (a, b, c, d) => (id, s"rs$k", a, b, c, d) }
                    })
              case None => None
            }
          else
            Multimodal.decodeImageTileStats(p, tile).map { case (tx, ty, ts, tq) =>
              shinglesFromTiles(tx, ty, ts, tq)
                .map { case (a, b, c, d) => (id, "img", a, b, c, d) }
            }) match {
            case Some(imgRows) => imgRows
            case None =>
              Multimodal.decodeWavUtteranceStats(p) match {
                case Some((us, uq)) =>
                  shinglesFromStats(us, uq)
                    .map { case (a, b, c, d) => (id, "aud", a, b, c, d) }
                case None if vsp =>
                  Multimodal.decodeAviFrameStatsTiles(p, tile) match {
                    case Some((sums, sqs, tx, ty, fs, fq)) =>
                      shinglesFromStats(sums, sqs)
                        .map { case (a, b, c, d) => (id, "vid", a, b, c, d) } ++
                        distinctFrameTileShingles(tx, ty, fs, fq)
                          .map { case (a, b, c, d) => (id, "vsp", a, b, c, d) }
                    case None => Nil
                  }
                case None =>
                  Multimodal.decodeAviFrameStats(p) match {
                    case Some((_, _, sums, sqs)) =>
                      shinglesFromStats(sums, sqs)
                        .map { case (a, b, c, d) => (id, "vid", a, b, c, d) }
                    case None => Nil
                  }
              }
          }
        })
      }
      .toDF("doc_id", "mod", "s1", "q1", "s2", "q2")
  }

  /** DIRECTIONAL image CROP containment — the x147 rule one modality
    * over: (doc_id_a, doc_id_b, n_inter, n_a) where den·|A∩B| ≥ num·|A|
    * over the distinct diagonal tile-neighborhood fingerprints. A
    * tile-aligned crop is contained at ~1.0 in its source — directional,
    * like the video trim; containment ≥ threshold in BOTH directions is
    * the near-identical case. Shares [[containmentPairsFromShingles]]
    * verbatim with the video form; the same scale caveat applies (use
    * [[imageCropContainmentPairsLsh]] past the collision-rate boundary).
    */
  def imageCropContainmentPairs(
      media: DataFrame,
      tile: Int = TileSize,
      num: Int = 4,
      den: Int = 5): DataFrame =
    containmentPairsFromShingles(imageTileShingles(media, tile), num, den)

  /** The image-crop SCALE path — [[videoContainmentPairsLsh]]'s engine on
    * [[imageTileShingles]]: MinHash-LSH candidates over the tile-shingle
    * sets, exact verify on candidates only. Same cross-engine md5
    * minhashes and inlined affine permutation literals, so the form is
    * oracle-keyed (x152_crop_containment_lsh); same Jaccard S-curve
    * recall contract (a small crop of a LARGE image has J ~ |A|/|B| and
    * needs the exact form — the extreme-ratio limit).
    */
  def imageCropContainmentPairsLsh(
      media: DataFrame,
      tile: Int = TileSize,
      num: Int = 4,
      den: Int = 5,
      k: Int = 16,
      bands: Int = 4): DataFrame =
    containmentPairsLshFromShingles(
      imageTileShingles(media, tile), num, den, k, bands)

  /** Corpus-wide containment-dedup LOSERS at production posture — the
    * `Cli corpus --pcontain` stage's core, the build-side twin of the
    * admission strict pass: per-modality MinHash-LSH candidate pairs +
    * exact directional verify over a MOD-TAGGED shingle frame
    * ([[mediaShingles]] / [[shingleRows]] — the engines take one
    * modality at a time, so the frame is split on `mod` first), CC'd
    * undirected (a pair qualifying in EITHER direction satisfies the
    * min-side rule, since min(|A|,|B|) ≤ |A|), keep the doc with the
    * MOST shingles per component (the longer clip / larger image /
    * longer recording IS the source; min-id would keep the excerpt),
    * doc_id tiebreak. Returns the losers' (doc_id). The default LSH
    * geometry is RECALL-leaning (16 minhashes in 8 bands of 2 — band
    * match probability J² instead of the retrieval twins' J⁴): a dedup
    * STAGE that misses a mid-curve crop ships a duplicate forever,
    * where a retrieval query can tolerate S-curve recall; the extra
    * bands double the band-key rows, never the verify cost (candidates
    * stay collision-bounded). Scale: the LSH candidate generators are
    * band-keyed (never the raw fingerprint self-join's collision-rate
    * tail — this is the form a 100 TB build runs); payloads are decoded
    * once upstream and never shuffle.
    */
  def containmentLosersFromShingles(
      shingles: DataFrame,
      num: Int = 4,
      den: Int = 5,
      k: Int = 16,
      bands: Int = 8): DataFrame = {
    // NO extra full-frame cut here: callers pass an already-materialized
    // frame (`Cli corpus` cuts it; [[mediaContainmentLosers]] wraps one),
    // and the per-modality engine calls cut their own slices — a second
    // full copy only squeezes the local-mode heap the runtime broadcasts
    // share (what OOM'd the first 100x smoke)
    val sh = withShMod(shingles)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // cut each space's pair sub-plan EAGERLY before the union: the
    // per-space LSH+verify plans each carry several runtime broadcasts,
    // and materializing them under ONE downstream CC action stacks all
    // spaces' broadcasts on the driver at once (OOM'd the 100x smoke);
    // the cuts run them one space at a time. Only spaces with ROWS run —
    // a single-modality corpus must not pay three empty checkpointed job
    // chains (each would still scan the shingle frame and write a
    // checkpoint; the r14-ADVICE finding). The distinct-mod probe is a
    // driver collect of at most |ShingleSpaces| values.
    val present = sh.select("mod").distinct().collect().map(_.getString(0)).toSet
    val activeSpaces = ShingleSpaces.map(_.space).filter(present)
    if (activeSpaces.isEmpty) return sh.select("doc_id").limit(0)
    val pairs = activeSpaces.map { m =>
      DedupClusters.ckpt(
        containmentPairsLshFromShingles(
          sh.filter(col("mod") === m).drop("mod"), num, den, k, bands)
          .select(least(col("doc_id_a"), col("doc_id_b")).as("a"),
            greatest(col("doc_id_a"), col("doc_id_b")).as("b")))
    }.reduce(_ unionByName _).distinct()
    val comp = DedupClusters.connectedComponents(pairs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(col("n_sh").desc, col("doc_id"))
    comp.join(sz, comp("id") === sz("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select("doc_id")
  }

  /** [[containmentLosersFromShingles]] from raw media — ONE
    * modality-detected decode pass ([[mediaShingles]]) then the shared
    * stage core; `Cli corpus --pcontain` uses the shingle-frame form
    * directly so the `--pdedup` combined decode can serve both stages.
    */
  def mediaContainmentLosers(
      media: DataFrame,
      num: Int = 4,
      den: Int = 5,
      k: Int = 16,
      bands: Int = 8): DataFrame =
    containmentLosersFromShingles(
      DedupClusters.ckpt(mediaShingles(media)),
      num, den, k, bands)

  /** DIRECTIONAL video containment — x25's rule on [[videoFrameShingles]]:
    * pairs (doc_id_a, doc_id_b, n_inter, n_a) where den·|A∩B| ≥
    * num·|A| over the distinct frame-bigram sets (default 4/5 = 0.8,
    * x25's threshold). A video TRIMMED out of a longer one is contained
    * at ~1.0 in its source — the re-cut/excerpt mode that defeats the
    * whole-clip hash; a one-frame edit still scores ≥ (n−3)/n. Exact
    * frame identity is the contract: a trim that ALSO re-brightens moves
    * every fingerprint and needs the dHash signal instead — the two
    * operators cover each other's blind spot. Scale: the join shuffles
    * 32-byte fingerprint keys, never payloads; candidate mass follows
    * the fingerprint collision rate (real frame sums over real frames
    * are near-unique; the x25 caveat applies — at 100 TB run it over
    * banded candidates, not the raw self-join).
    */
  def videoContainmentPairs(
      media: DataFrame,
      num: Int = 4,
      den: Int = 5): DataFrame =
    containmentPairsFromShingles(videoFrameShingles(media), num, den)

  /** x25's directional rule over ANY (doc_id, s1, q1, s2, q2) shingle
    * frame — the shared exact engine under video TRIM containment
    * ([[videoContainmentPairs]]) and image CROP containment
    * ([[imageCropContainmentPairs]]): pairs (doc_id_a, doc_id_b, n_inter,
    * n_a) where den·|A∩B| ≥ num·|A| over the distinct fingerprint sets.
    * Scale caveat travels with it: the fingerprint self-join's candidate
    * mass follows the collision rate — at 100 TB use the LSH twin
    * ([[containmentPairsLshFromShingles]]).
    */
  private[xscale] def containmentPairsFromShingles(
      shingles: DataFrame,
      num: Int,
      den: Int): DataFrame = {
    require(num > 0 && den >= num, s"containment threshold $num/$den must be in (0, 1]")
    // the pair engines take a SINGLE-modality (doc_id, s1, q1, s2, q2)
    // frame; a mod-tagged mixed frame must be split by mod first — the
    // LSH twin would otherwise silently hash across modalities
    require(!shingles.columns.contains("mod"),
      "containment engine takes a single-modality shingle frame — split by mod first")
    val sh = DedupClusters.ckpt(shingles)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n_a"))
    val keys = Seq("s1", "q1", "s2", "q2")
    val inter = sh.toDF("da", "s1", "q1", "s2", "q2")
      .join(sh.toDF("db", "s1", "q1", "s2", "q2"), keys)
      .filter(col("da") =!= col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("n_inter"))
    inter.join(sz.withColumnRenamed("doc_id", "da"), "da")
      .filter(col("n_inter") * den >= col("n_a") * num)
      .select(col("da").as("doc_id_a"), col("db").as("doc_id_b"),
        col("n_inter"), col("n_a"))
  }

  /** Add the shingle-space column when a frame predates it — the pre-mod
    * `--ptrim` shingle layout and the raw [[videoFrameShingles]] frames
    * are all-video (the state's original video-only contract).
    */
  private def withShMod(df: DataFrame): DataFrame =
    if (df.columns.contains("mod")) df else df.withColumn("mod", lit("vid"))

  /** Batch-vs-corpus CONTAINMENT compare — the media leg's second signal
    * (`Cli admit --ptrim`), serving BOTH containment modalities:
    * `corpusShingles` / `batchShingles` are ((cv_id | doc_id), [mod,] s1,
    * q1, s2, q2) frames ([[mediaShingles]] / [[shingleRows]]; a side
    * without a `mod` column is treated as all-video — the pre-mod
    * state's contract); returns one row per batch (doc, SPACE) with
    * shingles — (doc_id, mod, n_sh, near_trim) where `near_trim` = some
    * corpus doc OF THAT SHINGLE SPACE contains ≥ `num`/`den` of the
    * doc's distinct fingerprints in that space — the re-cut/excerpt
    * (vid), tile-aligned crop (img), pause-cut excerpt (aud),
    * spatially cropped re-render (vsp) or RESIZED crop (rs2/rs4 — the
    * batch side's rows are its NATIVE fingerprints re-tagged per rescale
    * space, the state side's its SCALED ones: the [[RescaleSpace]]
    * asymmetry) whose whole-payload hash differs
    * BY DESIGN, so the band leg cannot see it. Videos carry two rows
    * (vid + vsp) since x154, images one per active rescale space since
    * x156; the per-space verdict is what lets the
    * status folds name the signal that actually saw the re-post.
    * The x147/x152/x153/x154/x156 rules as admission signals.
    * `cv_id =!= doc_id` keeps crash-window retries idempotent (same rule
    * and same GLOBALLY-UNIQUE id-space precondition as
    * [[admitMediaCompare]]). Scale: the batch side BROADCASTS when it is
    * genuinely broadcast-sized (≤ [[BroadcastBatchShingleRows]], decided
    * by one cheap count on the already-cut batch frame), so the
    * corpus-sized state is SCANNED, never shuffled — the planner cannot
    * see this on its own (the batch frame reaches the join through a
    * decode mapPartitions / checkpoint, which erases size statistics, so
    * left alone it sort-merge-joins and re-shuffles the ENTIRE state
    * every admission run: the 100× vcrop steady smoke spent ~3× the
    * state-scan cost in that shuffle). An oversized batch falls back to
    * the shuffle join (a multi-GB broadcast build would OOM executors
    * instead). Corpus payloads are never re-decoded once the shingle
    * state exists.
    */
  def admitTrimCompare(
      corpusShingles: DataFrame,
      batchShingles: DataFrame,
      num: Int = 4,
      den: Int = 5,
      batchRows: Option[Long] = None): DataFrame = {
    require(num > 0 && den >= num, s"containment threshold $num/$den must be in (0, 1]")
    val keys = Seq("mod", "s1", "q1", "s2", "q2")
    val bs0 = withShMod(batchShingles)
    // broadcast decision: a caller-supplied row count wins (zero extra
    // jobs — StreamingAdmit pays this per MICRO-BATCH, where even a
    // cheap count is one avoidable Spark job); otherwise one count() at
    // plan-construction time. CONTRACT: pass `batchShingles` already
    // checkpointed (every production call site does) — on a raw decode
    // plan the fallback count re-runs the full batch decode once.
    val small = batchRows.getOrElse(bs0.count()) <= BroadcastBatchShingleRows
    val bs = if (small) broadcast(bs0) else bs0
    // sz is DOC-level (≤ batch docs × spaces rows — strictly smaller than
    // the shingle frame the `small` decision already priced), and it joins
    // twice below. Broadcasting it under the same decision removes two
    // exchanges per join (four per compare) that otherwise shuffle
    // byte-tiny frames through full AQE stage barriers — the admit legs
    // run one compare per batch and were job-count-bound at sf0.1.
    val sz0 = bs.groupBy("doc_id", "mod").agg(count(lit(1)).as("n_sh"))
    val sz = if (small) broadcast(sz0) else sz0
    val cs = withShMod(
      if (corpusShingles.columns.contains("cv_id")) corpusShingles
      else corpusShingles.withColumnRenamed("doc_id", "cv_id"))
    // DISTINCT on the matched (doc, cv, fingerprint) rows before counting:
    // a crash-window RETRY doubles the state's appended shingle rows (the
    // documented append-replay mode every sidecar shares), and unlike the
    // bands sidecar — where a duplicate row changes no hamming verdict —
    // a doubled shingle row would double `i` for that pair and inflate
    // containment past the threshold. The distinct is on the JOIN OUTPUT
    // (batch-sized × matches), never on the full state.
    // Grouped and thresholded PER (doc, mod, cv): since videos carry TWO
    // spaces (vid + vsp), pooling `i` across a doc's spaces against one
    // space's n_sh would both mis-price the ratio and mislabel which
    // signal saw the re-post — near_trim answers per SPACE, so the
    // status folds name the right signal (a spatial crop flags the vsp
    // row, never the vid row).
    // count(DISTINCT fingerprint) per (doc, mod, cv) instead of a separate
    // row-level distinct + count: `mod` is in the grouping key, so the
    // distinct-aggregate counts exactly the rows the old distinct kept —
    // values identical — while the physical plan runs ONE exchange keyed
    // on the group (the distinct-agg expansion) instead of two (distinct
    // on the full row, then the group-count).
    val near = bs
      .join(cs, keys)
      .filter(col("cv_id") =!= col("doc_id"))
      .groupBy("doc_id", "mod", "cv_id")
      .agg(countDistinct(col("s1"), col("q1"), col("s2"), col("q2")).as("i"))
      .join(sz, Seq("doc_id", "mod"))
      .filter(col("i") * den >= col("n_sh") * num)
      .select("doc_id", "mod").distinct()
      .withColumn("nt", lit(true))
    // near ⊆ sz's key set (flagged docs only) — broadcast the right side
    // of the left join under the same batch-bounded rationale
    sz.join(if (small) broadcast(near) else near, Seq("doc_id", "mod"), "left")
      .select(col("doc_id"), col("mod"), col("n_sh"),
        coalesce(col("nt"), lit(false)).as("near_trim"))
  }

  /** Doc-level fold of [[admitTrimCompare]]'s per-(doc, SPACE) frame:
    * one row per doc, `near_trim` = flagged in ANY space. The compare
    * frame deliberately answers per space (the status folds name the
    * signal that saw the re-post), which makes the once-obvious pattern
    * `frame.filter(!near_trim).select("doc_id")` a TRAP for multi-space
    * docs — a two-space video flagged in only one space would surface as
    * BOTH an "admitted" and a flagged doc_id, and a distinct() over the
    * filter would silently admit it (the r15-ADVICE latent-trap finding).
    * Derive any doc-level admitted/flagged set through THIS fold.
    */
  def admitTrimDocVerdicts(frame: DataFrame): DataFrame =
    frame.groupBy("doc_id").agg(max(col("near_trim")).as("near_trim"))

  /** The strict pass of the containment leg: a trim/crop and its SOURCE
    * arriving in ONE batch both clear the corpus rule — run undirected
    * containment pairs over the finally-admitted batch docs'
    * already-computed shingles (a pair qualifies when den·|A∩B| ≥
    * num·min(|A|, |B|): the directional score of the smaller side,
    * within ONE shingle space — img pairs never form with vid), CC them,
    * and keep the doc with the MOST shingles per component (the longer
    * clip / larger image IS the source; min-id would happily keep the
    * excerpt and drop the footage), doc_id tiebreak. RESCALE spaces
    * (rs-prefixed mods, [[RescaleSpaces]]) are asymmetric and get their
    * own BIPARTITE qualification instead: doc a's NATIVE img
    * fingerprints contained in doc b's rs-space SCALED set (a resized
    * crop and its source arriving together — x156 intra-batch), the
    * link entering the SAME undirected CC. Returns the losers'
    * (doc_id, mod) for the caller to re-status per modality
    * (`near_dup_batch_vtrim` / `near_dup_batch_icrop`, rs-mods folding
    * to [[RcropStrictStatus]] — the [[Modalities]] containment column
    * plus the rescale table). Zero extra decode —
    * `admShingles` is the already-cut batch shingle frame filtered to
    * still-admitted docs; a frame without `mod` is all-video (pre-mod
    * contract). The composition of [[admitTrimStrictEdges]] and
    * [[admitTrimStrictLosersOf]].
    */
  def admitTrimStrictLosers(
      admShingles: DataFrame,
      num: Int = 4,
      den: Int = 5): DataFrame =
    admitTrimStrictLosersOf(admitTrimStrictEdges(admShingles, num, den))

  /** The containment strict pass's edges: `links` (a, b, mod), a < b —
    * the pairs qualifying in a shingle space, the rescale spaces'
    * bipartite links included — and `sizes` (doc_id, n_tot), each doc's
    * shingle count across all its spaces (the keep-best rank).
    */
  final case class TrimStrictEdges(links: DataFrame, sizes: DataFrame)

  /** The edge half of [[admitTrimStrictLosers]] over `shingles`. A link
    * qualifies on its two docs' shingles alone and a size is one doc's
    * own, so the edges among any subset of the docs are exactly these
    * links with both ends in that subset, with the same sizes.
    */
  def admitTrimStrictEdges(shingles: DataFrame, num: Int = 4, den: Int = 5): TrimStrictEdges = {
    require(num > 0 && den >= num, s"containment threshold $num/$den must be in (0, 1]")
    val sh = withShMod(shingles)
    val keys = Seq("mod", "s1", "q1", "s2", "q2")
    val cols = Seq("mod", "s1", "q1", "s2", "q2")
    // PER-SPACE qualification (the admitTrimCompare rule on the strict
    // side — videos carry vid AND vsp rows since x154): intersections
    // group by (a, b, SPACE) and compare against THAT space's sizes.
    // Pooling i across a doc's spaces against one space's n_sh would let
    // two videos sharing ~50% in each space cross a 0.8 bar no single
    // space meets.
    // doc-level and bounded by the admitted batch (admShingles' contract) —
    // broadcast so its three joins below never shuffle the pair frames
    // (the admitTrimCompare sz rationale)
    val szMod = broadcast(sh.groupBy("doc_id", "mod").agg(count(lit(1)).as("n_sh")))
    // rescale spaces are ASYMMETRIC (state side scaled, batch side
    // native — the RescaleSpace contract) and get their own bipartite
    // qualification below; running them through the symmetric self-join
    // would at best duplicate img-space links and at worst min-side-rate
    // two docs by their DOWNSCALES' overlap
    val isRs = col("mod").startsWith("rs")
    val sym = sh.filter(!isRs)
    val qual = sym.select((col("doc_id").as("a") +: cols.map(col)): _*)
      .join(sym.select((col("doc_id").as("b") +: cols.map(col)): _*), keys)
      .filter(col("a") < col("b"))
      .groupBy("a", "b", "mod").agg(count(lit(1)).as("i"))
      .join(szMod.select(col("doc_id").as("a"), col("mod"), col("n_sh").as("na")),
        Seq("a", "mod"))
      .join(szMod.select(col("doc_id").as("b"), col("mod"), col("n_sh").as("nb")),
        Seq("b", "mod"))
      .filter(col("i") * den >= least(col("na"), col("nb")) * num)
      .select("a", "b", "mod")
    // BIPARTITE rescale qualification (x156's rule intra-batch): doc a's
    // NATIVE img fingerprints contained in doc b's rs-space SCALED set —
    // a resized crop and its source arriving in one batch. Directional
    // on the native side (|A ∩ S_k| vs |A| — the crop's own set prices
    // the ratio, exactly the compare leg's denominator); the link enters
    // the same undirected CC, normalized a < b so edge orientation never
    // leaks into components.
    val vkeys = Seq("s1", "q1", "s2", "q2")
    val qualRs = sh.filter(col("mod") === "img")
      .select((col("doc_id").as("na_id") +: vkeys.map(col)): _*)
      .join(sh.filter(isRs)
        .select((col("doc_id").as("sc_id") +: col("mod") +: vkeys.map(col)): _*), vkeys)
      .filter(col("na_id") =!= col("sc_id"))
      .groupBy("na_id", "sc_id", "mod").agg(count(lit(1)).as("i"))
      .join(
        szMod.filter(col("mod") === "img")
          .select(col("doc_id").as("na_id"), col("n_sh").as("na")), Seq("na_id"))
      .filter(col("i") * den >= col("na") * num)
      .select(least(col("na_id"), col("sc_id")).as("a"),
        greatest(col("na_id"), col("sc_id")).as("b"), col("mod"))
    TrimStrictEdges(qual.unionByName(qualRs), sh.groupBy("doc_id").agg(count(lit(1)).as("n_tot")))
  }

  /** The rule half of [[admitTrimStrictLosers]]: the losers (doc_id, mod)
    * of `edges`, labelled by the space(s) that linked them.
    */
  def admitTrimStrictLosersOf(edges: TrimStrictEdges): DataFrame =
    admitTrimStrictLosersBy(edges,
      DedupClusters.connectedComponents(_))

  /** [[admitTrimStrictLosersOf]] with the components of the links taken by
    * `components`.
    */
  private[graft] def admitTrimStrictLosersBy(
      edges: TrimStrictEdges,
      components: DataFrame => DataFrame): DataFrame = {
    val qualC = DedupClusters.ckpt(edges.links)
    // ONE undirected CC over pairs qualifying in ANY space (spaces only
    // ever link docs of one modality); keep the doc with the most
    // fingerprints across ALL its spaces — the larger canvas / longer
    // clip carries more in every space, and a per-space rank would emit
    // the WINNER's other-space row as a loser (the two-space bug this
    // per-doc rank replaces).
    val comp = components(qualC.select("a", "b").distinct())
    // doc-level and batch-bounded, like szMod
    val szDoc = broadcast(edges.sizes)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(col("n_tot").desc, col("doc_id"))
    val losers = comp.join(szDoc, comp("id") === szDoc("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select("doc_id")
    // label each loser by the space(s) that actually LINKED it (a pure
    // spatial-crop pair labels vcrop, never vtrim — the compare side's
    // name-the-signal rule); single-space docs reproduce the r14 rows
    // exactly (their only space is their linking space)
    losers.join(
      qualC.select(col("a").as("doc_id"), col("mod"))
        .unionByName(qualC.select(col("b").as("doc_id"), col("mod"))),
      "doc_id")
      .select("doc_id", "mod").distinct()
  }

  /** Compact the `--ptrim` shingle state against the live corpus ids —
    * the shingle-table sibling of [[compactMediaBands]]: keep rows of
    * still-live videos, collapse retried double-appends by DISTINCT
    * (shingle rows are pure values — one per distinct bigram — so exact
    * duplicates are always append replays, never data).
    */
  def compactTrimShingles(shingles: DataFrame, live: DataFrame): DataFrame =
    shingles.join(live.select(col("vec_id").as("cv_id")), Seq("cv_id"), "left_semi")
      .distinct()

  /** Cross-modal THUMBNAIL provenance — which images are frames of which
    * videos: [[Multimodal.extractAviFrames]] turns every `every`-th
    * frame into a standalone BMP (container surgery, no re-encode),
    * [[dhashBands]] hashes frames and images through the SAME real
    * javax.imageio decode (one hash function ⇒ one candidate space — the
    * opposite of the modality-disjoint dedup rule, on purpose: a
    * thumbnail IS an image of the frame), and [[Lsh]]'s cross form +
    * [[Lsh.hamming]] yield (doc_id, vid_id, frame_idx) matches
    * (`maxHamming` < [[Bands]], the pigeonhole contract of
    * [[bandNearDupPairs]]). Catches the brightened/re-encoded thumbnail
    * byte equality cannot see; a thumbnail at a DIFFERENT resolution matches when the scale is
    * integral (the x142 invariance) — arbitrary rescales are the
    * documented limit, and a CROPPED thumbnail moves every dHash block
    * boundary and evades this form BY DESIGN — that re-post mode is
    * covered by the tile-shingle bipartite containment instead
    * ([[thumbnailContainmentPairs]], x155). Scale: frames-per-video is
    * capped by the stride, the join shuffles 16-byte band keys, and
    * neither payload side shuffles; images and frames are each decoded
    * once.
    */
  def thumbnailMatches(
      images: DataFrame,
      videos: DataFrame,
      every: Int = 16,
      maxHamming: Int = MaxHamming): DataFrame = {
    require(maxHamming < Bands,
      s"maxHamming=$maxHamming with $Bands bands breaks the pigeonhole guarantee " +
        "(a qualifying pair can differ in every band and never become a candidate)")
    val spark = images.sparkSession
    import spark.implicits._
    val fh = DedupClusters.ckpt(
      Multimodal.extractAviFrames(videos, every)
        .select(col("doc_id"), col("frame_idx"), col("payload"))
        .as[(Long, Long, Array[Byte])]
        .mapPartitions { it =>
          it.grouped(Multimodal.decodeBatchSize)
            .flatMap(_.flatMap { case (vid, f, p) => dhashBands(p).map(b => (vid, f, b)) })
        }
        .toDF("vid_id", "frame_idx", "fbands"))
    val ih = DedupClusters.ckpt(
      imageHashFrame(images).filter(col("decoded"))
        .select(col("doc_id"), col("bands").as("ibands")))
    val cand = Lsh.crossPairs(
      Lsh.bandRows(ih, col("ibands"), col("doc_id")),
      Lsh.bandRows(fh, col("fbands"), col("vid_id"), col("frame_idx")),
      Seq(col("doc_id"), col("vid_id"), col("frame_idx")))
    cand.join(ih, "doc_id").join(fh, Seq("vid_id", "frame_idx"))
      .filter(Lsh.hamming(col("ibands"), col("fbands")) <= maxHamming)
      .select("doc_id", "vid_id", "frame_idx")
  }

  /** CROPPED-thumbnail provenance — the bipartite containment form
    * [[thumbnailMatches]] cannot be: which images are (possibly
    * tile-aligned-cropped) regions of which corpus-video frames. The
    * image side's diagonal tile-neighborhood fingerprints
    * ([[imageTileShingles]]) and the video side's PER-FRAME tile
    * fingerprints ([[videoFrameTileShinglesByFrame]]) live in the SAME
    * numeric space on purpose — one tile function, one luma, one grid
    * anchor (the cross-modal identity [[Multimodal.decodeAviFrameTileStats]]
    * pins against javax.imageio), the [[thumbnailMatches]] one-hash-one-
    * space rule on the shingle axis — so x25's directional rule applies
    * ACROSS modalities: (doc_id, vid_id, frame_idx, n_inter, n_a) where
    * den·|A∩F| ≥ num·|A| for A the image's distinct fingerprint set and
    * F ONE frame's (per-frame, not the clip union — a 20-shingle
    * thumbnail would dilute to nothing against a 2-hour clip's union).
    * A tile-aligned crop of a frame is contained at 1.0; a full-frame
    * re-post at 1.0 with n_a = the frame's own count. Directional only
    * (image side): "is this frame contained in that image" is not
    * provenance. HONEST LIMITS: the x152 framing rule (non-tile-aligned
    * crop offsets shift every boundary), the brightness rule (a
    * re-brightened thumbnail moves every moment — [[thumbnailMatches]]'s
    * dHash covers that case, the two operators covering each other's
    * blind spot), and the x142 scale rule (a RESIZED crop is out of
    * scope for both). Precondition: image and video doc_id spaces must
    * be globally unique (the admission id rule); the engine never
    * equates them. Scale caveat: this exact form joins raw fingerprints
    * (collision-rate candidate mass) — at 100 TB use
    * [[thumbnailContainmentPairsLsh]].
    */
  def thumbnailContainmentPairs(
      images: DataFrame,
      videos: DataFrame,
      tile: Int = TileSize,
      num: Int = 4,
      den: Int = 5): DataFrame = {
    require(num > 0 && den >= num, s"containment threshold $num/$den must be in (0, 1]")
    val imgSh = DedupClusters.ckpt(imageTileShingles(images, tile))
    val frameSh =
      DedupClusters.ckpt(videoFrameTileShinglesByFrame(videos, tile))
    val sz = imgSh.groupBy("doc_id").agg(count(lit(1)).as("n_a")).hint("merge")
    val keys = Seq("s1", "q1", "s2", "q2")
    imgSh.join(frameSh.withColumnRenamed("doc_id", "vid_id"), keys)
      .groupBy("doc_id", "vid_id", "frame_idx").agg(count(lit(1)).as("n_inter"))
      .join(sz, "doc_id")
      .filter(col("n_inter") * den >= col("n_a") * num)
      .select("doc_id", "vid_id", "frame_idx", "n_inter", "n_a")
  }

  /** The thumbnail-provenance SCALE path — the x147 LSH recipe made
    * bipartite: [[Lsh.containmentBands]] of each image's fingerprint set
    * AND each (video, frame)'s set (the same literals the DuckDB oracle
    * inlines — x155_thumb_containment_lsh is oracle-keyed), [[Lsh]]'s
    * cross form between the two sides, and the exact directional verify
    * ([[Lsh.intersections]]) on candidate (image, frame) pairs. Geometry
    * defaults RECALL-leaning (16 minhashes in 8 bands of 2, band match
    * probability J² — the `--pcontain` dedup-stage rationale: a missed
    * thumbnail ships a leaked frame forever, and the extra bands double
    * band-key rows, never verify cost). A
    * tile-aligned crop of a frame has J = |A|/|F| (subset), mid-curve
    * at typical crop ratios — found or not is a fixed deterministic
    * fact both engines agree on; extreme crops need the exact form
    * (the documented extreme-ratio limit). Scale: candidate mass
    * follows band collisions; joins shuffle 16-byte band keys and
    * 32-byte fingerprints, never payloads; each side is decoded once.
    */
  def thumbnailContainmentPairsLsh(
      images: DataFrame,
      videos: DataFrame,
      tile: Int = TileSize,
      num: Int = 4,
      den: Int = 5,
      k: Int = 16,
      bands: Int = 8): DataFrame = {
    require(num > 0 && den >= num, s"containment threshold $num/$den must be in (0, 1]")
    require(k % bands == 0, s"k=$k minhashes must divide into $bands bands")
    val imgSh = DedupClusters.ckpt(imageTileShingles(images, tile))
    val frameSh =
      DedupClusters.ckpt(videoFrameTileShinglesByFrame(videos, tile))
    val ib = Lsh.containmentBands(imgSh, Seq(col("doc_id")), k, bands)
    val fb = Lsh.containmentBands(
      frameSh, Seq(col("doc_id").as("vid_id"), col("frame_idx")), k, bands)
    val cand = Lsh.crossPairs(ib, fb, Seq(col("doc_id"), col("vid_id"), col("frame_idx")))
    val sz = imgSh.groupBy("doc_id").agg(count(lit(1)).as("n_a")).hint("merge")
    Lsh.intersections(cand, imgSh, Seq("doc_id"),
      frameSh.toDF(Seq("vid_id", "frame_idx") ++ Lsh.Fingerprint: _*), Seq("vid_id", "frame_idx"))
      .join(sz, "doc_id")
      .filter(Lsh.contained(col("n_inter"), col("n_a"), num, den))
      .select("doc_id", "vid_id", "frame_idx", "n_inter", "n_a")
  }

  /** MinHash permutation coefficients for [[videoContainmentPairsLsh]] —
    * derived driver-side from the md5 house hash and inlined as LITERALS
    * into both the Spark plan and the oracle SQL (the x07 hyperplane
    * pattern, which is what makes the LSH form oracle-keyable):
    * a ∈ [1, P−1] (never 0 — a zero slope collapses the permutation to a
    * constant), b ∈ [0, P−1].
    */
  def containmentLshA(i: Int): Long = XHash.h60(s"x147lsh-a-$i") % (XHash.P - 1) + 1
  def containmentLshB(i: Int): Long = XHash.h60(s"x147lsh-b-$i") % XHash.P

  /** The x147 SCALE path — [[videoContainmentPairs]]'s raw fingerprint
    * self-join is the x25 caveat's all-pairs shape (candidate mass
    * follows the fingerprint collision rate); past that, generate
    * candidates with MinHash-LSH over the shingle SETS (x02's machinery
    * on frame bigrams: `k` hash-permutation minhashes per video, banded
    * `bands`-way, one keyed join on 16-byte band keys) and run the EXACT
    * containment verify on candidate pairs only — precision stays 1.0
    * (the verify is the exact rule), recall follows the Jaccard S-curve.
    * HONEST LIMIT: MinHash calibrates to JACCARD, and containment ≠
    * Jaccard when lengths diverge — a common trim (say frames 10..64 of
    * 65, J ≈ 0.84) is found with near-certainty at the default 4×4
    * geometry, but a TINY excerpt inside long footage has J ≈ |A|/|B|
    * and falls off the curve; extreme-ratio containment needs the exact
    * form (or asymmetric sketching, a different operator). Deterministic
    * AND cross-engine: one md5-based 60-bit hash per distinct fingerprint
    * ([[XHash.h60]], the house cross-engine primitive) then `k` affine
    * permutations `(a_i·(h mod P) + b_i) mod P` whose coefficients are
    * driver-derived literals ([[containmentLshA]]/[[containmentLshB]])
    * inlined into BOTH the Spark plan and the DuckDB oracle SQL — the x07
    * hyperplane pattern, which is what makes the LSH form ORACLE-KEYED
    * (x147_containment_lsh) rather than merely deterministic.
    */
  def videoContainmentPairsLsh(
      media: DataFrame,
      num: Int = 4,
      den: Int = 5,
      k: Int = 16,
      bands: Int = 4): DataFrame =
    containmentPairsLshFromShingles(
      videoFrameShingles(media), num, den, k, bands)

  /** The LSH containment engine shared by the video and image forms —
    * [[containmentPairsFromShingles]]'s scale twin: [[Lsh.containmentBands]],
    * [[Lsh]]'s self form, then [[Lsh.intersections]] in both directions;
    * see [[videoContainmentPairsLsh]] for the full contract.
    */
  private[xscale] def containmentPairsLshFromShingles(
      shingles: DataFrame,
      num: Int,
      den: Int,
      k: Int,
      bands: Int): DataFrame = {
    require(num > 0 && den >= num, s"containment threshold $num/$den must be in (0, 1]")
    require(k % bands == 0, s"k=$k minhashes must divide into $bands bands")
    // single-modality contract (see containmentPairsFromShingles): the
    // minhash would silently IGNORE a mod column and pair across spaces
    require(!shingles.columns.contains("mod"),
      "containment engine takes a single-modality shingle frame — split by mod first")
    val sh = DedupClusters.ckpt(shingles)
    // ALL band keys in one projection + posexplode — a per-band union of
    // selects over the minhashes would re-run their aggregation once per
    // band (4x the shuffles for the same rows); the cut stops the band
    // SELF-join below from running it twice more
    val banded = DedupClusters.ckpt(
      Lsh.containmentBands(sh, Seq(col("doc_id")), k, bands))
    val (a, b) = Lsh.sides(banded, "doc_id")
    val cand = Lsh.selfPairs(a, b, col("a"), col("b"))
    // exact verify on candidates only: intersection via the fingerprint
    // join RESTRICTED to candidate pairs, then x25's directional rule in
    // BOTH orientations. `sz` is CORPUS-sized (one row per doc) and its
    // post-aggregation stats read small, so AQE would happily build it
    // as a runtime broadcast — which OOM'd the 100x smoke's driver (in
    // local mode the broadcast build shares the heap with every cached
    // frame). The merge hint keeps the per-doc aggregate a shuffle join
    // at every scale; the candidate-side joins keep their broadcast
    // freedom (candidates are collision-bounded, never corpus-sized).
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n")).hint("merge")
    val inter = Lsh.intersections(cand, sh.toDF("a" +: Lsh.Fingerprint: _*), Seq("a"),
      sh.toDF("b" +: Lsh.Fingerprint: _*), Seq("b"))
      .join(sz.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), "b")
    def direction(from: String, to: String, n: String) =
      inter.filter(Lsh.contained(col("n_inter"), col(n), num, den))
        .select(col(from).as("doc_id_a"), col(to).as("doc_id_b"), col("n_inter"), col(n).as("n_a"))
    direction("a", "b", "na").unionByName(direction("b", "a", "nb"))
  }

  /** The video twin of [[imageNearDupPairs]]/[[audioNearDupPairs]] — same
    * auto-threshold rule, same [[BandBoundary]] swap (`wide = true` →
    * [[videoDhashBandsWide]]'s 256-bit form; the boundary constant is
    * shared across all three modalities because it prices the band
    * geometry, not the signal).
    */
  def videoNearDupPairs(
      media: DataFrame,
      wide: Boolean = false,
      maxHamming: Int = -1): DataFrame = {
    val nBands = widthBands(wide)
    val mh = if (maxHamming < 0) widthThreshold(wide) else maxHamming
    require(mh < nBands,
      s"maxHamming=$mh with $nBands bands breaks the pigeonhole guarantee " +
        "(a qualifying pair can differ in every band and never become a candidate)")
    bandNearDupPairs(
      DedupClusters.ckpt(videoHashFrame(media, wide).filter(col("decoded"))),
      mh)
  }

  // ---------------------------------------------------------------------
  // media ADMISSION (the x74 rule's third signal, under `Cli admit`)
  // ---------------------------------------------------------------------

  /** Batch-vs-corpus perceptual compare — the media analog of
    * `Similarity.admitEmbCompare`: returns the state-shaped frame
    * (doc_id, mod, near_med, bands) for every batch row, `near_med` =
    * some corpus hash OF THE SAME MODALITY within `maxHamming` ([[Lsh]]'s
    * cross form keyed by `mod` + [[Lsh.hamming]], never all-pairs).
    * `corpusBands` is (cv_id, [mod,] bands) — the persisted `--psigs`
    * state or a one-off corpus hash pass; `batchBands` is (doc_id, [mod,] bands); a side
    * without a `mod` column is treated as all-image (the pre-audio state
    * layout). Rows the caller couldn't decode should be absent on both
    * sides (they pass the leg unflagged upstream). Scale: the join
    * shuffles band keys (≤ 17 bytes with the modality tag); the batch
    * side is batch-sized throughout; corpus payloads are never touched
    * once the bands state exists.
    *
    * ID-SPACE PRECONDITION (all admit surfaces): corpus/state ids and
    * batch doc ids must be GLOBALLY UNIQUE across each other — ids name
    * immutable content, never coordinates (the sidecar identity model).
    * The `cv_id =!= doc_id` retry exclusion below RELIES on it: a batch
    * doc that legitimately reused a corpus id would silently skip a
    * genuine near-dup match against that state row. A deployment that
    * cannot guarantee disjoint id spaces must key its state by a content
    * hash instead of the raw id before using these surfaces.
    */
  /** Add the modality column when a frame predates it — the pre-audio
    * `--psigs` layout and the image-only fixtures are all-image.
    */
  private def withMod(df: DataFrame): DataFrame =
    if (df.columns.contains("mod")) df else df.withColumn("mod", lit("img"))

  def admitMediaCompare(
      corpusBands: DataFrame,
      batchBands: DataFrame,
      maxHamming: Int = MaxHamming): DataFrame = {
    val cbf = withMod(corpusBands)
    val bbf = withMod(batchBands)
    // cv_id =!= doc_id: a doc must never flag against its OWN state row —
    // a crash-window RETRY (bands appended, sig append lost) otherwise
    // finds the doc's own band at hamming 0 and re-statuses it
    // near_dup_corpus_*, permanently dropping it from the output.
    // Normal runs never hit this (id spaces disjoint — the documented
    // precondition above); excluding self-ids restores replay idempotence
    // at zero normal-path cost (the emb leg's admitEmbCompare applies the
    // same rule).
    val cand = Lsh.crossPairs(
      Lsh.bandRows(bbf, col("bands"), col("doc_id"), col("mod")),
      Lsh.bandRows(cbf, col("bands"), col("cv_id"), col("mod")),
      Seq(col("doc_id"), col("cv_id")), differ = Some("doc_id" -> "cv_id"))
    // REJECT LOUDLY on a band-width mismatch: zip_with pads the shorter
    // side with nulls, which would make the hamming sum null and the pair
    // silently non-near — a 4-band batch against an 8-band state must be
    // an error, never zero recall. (The Cli/streaming surfaces prevent
    // this by construction — the state meta drives the batch hash width —
    // so this guards direct library callers.)
    val ham = when(
      size(col("bb_")) =!= size(col("cb_")),
      raise_error(concat(
        lit("admitMediaCompare: band-width mismatch — batch hash has "),
        size(col("bb_")).cast("string"), lit(" bands, state hash has "),
        size(col("cb_")).cast("string"),
        lit(" (hash the batch at the state's width; see --psigs meta)"))))
      .otherwise(Lsh.hamming(col("bb_"), col("cb_")))
    // per-row clamp to size − 1, like bandNearDupPairs: small-media
    // classic-fallback rows in a wide run verify at THEIR width's
    // threshold (a no-op on uniform frames — both defaults are bands − 1)
    val near = cand
      .join(bbf.select(col("doc_id"), col("bands").as("bb_")), "doc_id")
      .join(cbf.select(col("cv_id"), col("bands").as("cb_")), "cv_id")
      .filter(ham <= least(lit(maxHamming), size(col("bb_")) - 1))
      .select("doc_id").distinct()
      .withColumn("ni", lit(true))
    bbf.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("mod"),
        coalesce(col("ni"), lit(false)).as("near_med"), col("bands"))
  }

  /** The media analog of `Dedup.admitStrict` / `admitEmbStrictLosers`:
    * two re-encodes of the same image arriving in ONE batch both clear
    * the batch-vs-corpus rule; run the banded pair join + CC over the
    * FINALLY-admitted rows' already-computed bands (zero extra decode),
    * min-id survivor, losers returned as one `doc_id` column for the
    * caller to re-status `near_dup_batch_img` — WITH the row's `mod` when
    * the frame carries one, so modality-split callers (Cli admit,
    * StreamingAdmit) don't each re-join the full leg frame to recover it.
    * `nBands` names the frame's band count ([[Bands]] classic,
    * [[BandsWide]] wide) so the same pigeonhole-soundness guard the
    * public pair entries carry holds here too — a `maxHamming` ≥ the band
    * count would silently MISS qualifying intra-batch pairs instead of
    * throwing (mixed-width frames are additionally clamped per row inside
    * [[bandNearDupPairs]]). The composition of [[admitMediaStrictEdges]]
    * and [[admitMediaStrictLosersOf]].
    */
  def admitMediaStrictLosers(
      admBands: DataFrame,
      maxHamming: Int = MaxHamming,
      nBands: Int = Bands): DataFrame =
    admitMediaStrictLosersOf(
      admitMediaStrictEdges(admBands, maxHamming, nBands), admBands)

  /** The edge half of [[admitMediaStrictLosers]]: the [[bandNearDupPairs]]
    * `(a, b)` of `bands` (doc_id, [mod,] bands), behind the pigeonhole
    * guard. A pair qualifies on its two docs' rows alone, so the edges
    * among any subset of the docs are exactly these edges with both ends
    * in that subset.
    */
  def admitMediaStrictEdges(
      bands: DataFrame,
      maxHamming: Int = MaxHamming,
      nBands: Int = Bands): DataFrame = {
    require(maxHamming < nBands,
      s"maxHamming=$maxHamming with $nBands bands breaks the pigeonhole guarantee " +
        "(a qualifying pair can differ in every band and never become a candidate)")
    bandNearDupPairs(bands, maxHamming)
  }

  /** The rule half of [[admitMediaStrictLosers]]: the min-id losers of
    * `edges`, with their `mod` from `bands` when it carries one.
    */
  def admitMediaStrictLosersOf(
      edges: DataFrame,
      bands: DataFrame): DataFrame =
    admitMediaStrictLosersBy(edges, bands, DedupClusters.connectedComponents(_))

  /** [[admitMediaStrictLosersOf]] with the components of `edges` taken by
    * `components`.
    */
  private[graft] def admitMediaStrictLosersBy(
      edges: DataFrame,
      bands: DataFrame,
      components: DataFrame => DataFrame): DataFrame = {
    val losers = DedupClusters.minIdLosersBy(edges, components)
    if (bands.columns.contains("mod")) losers.join(bands.select("doc_id", "mod"), "doc_id")
    else losers
  }

  /** Compact the `--psigs` bands state against the live corpus ids — the
    * media twin of `compactSignatures`/`compactEmbAssign`, closing the
    * same two drift modes (stale rows of since-removed docs keep voting
    * near_dup_corpus_img; retried appends double rows). Same identity
    * model as the siblings.
    */
  def compactMediaBands(bands: DataFrame, live: DataFrame): DataFrame =
    graft.lake.Lake.dedupKeepFirst(
      bands.join(live.select(col("vec_id").as("cv_id")), Seq("cv_id"), "left_semi"),
      Seq("cv_id"), Seq("bands"))

  /** Min-id survivor statuses over a hashed frame: 'survivor' (component
    * representative of a near-dup group), 'near_dup_<modality>' (group
    * loser), 'unique' (no qualifying pair). The x14 keep-one rule on the
    * perceptual pair graph.
    */
  private def statusFrame(
      hashed: DataFrame,
      dupStatus: String,
      maxHamming: Int = MaxHamming): DataFrame = {
    // one hash/decode pass total: the frame feeds the candidate join (×3),
    // the verify join and the status join below
    val hf = DedupClusters.ckpt(hashed)
    val comp = DedupClusters.connectedComponents(bandNearDupPairs(hf, maxHamming))
    hf.join(comp, hf("doc_id") === comp("id"), "left")
      .select(
        hf("doc_id"),
        when(col("component").isNull, "unique")
          .when(col("component") === hf("doc_id"), "survivor")
          .otherwise(dupStatus).as("status"))
  }

  // ---------------------------------------------------------------------
  // registered fixtures: closed-form media synthesized per doc_id
  // ---------------------------------------------------------------------

  /** Docs per perceptual content cluster in the registered fixtures:
    * variants 0-2 are the same content (base / brightness-or-gain shift /
    * one local edit), variants 3-4 are distinct content.
    */
  val ClusterSize = 5

  private def variantOf(docId: Long): Long = docId % ClusterSize

  /** Content key: variants 0-2 of a cluster share it (they must hash
    * near), 3-4 get their own (they must not).
    */
  private def contentKey(docId: Long): Long = {
    val v = variantOf(docId)
    (docId / ClusterSize) * 7 + (if (v >= 3) v else 0)
  }

  /** Closed-form fixture gray: md5-mixed base in [10, 224] (so the +16
    * brightness and the +31 local bump both stay ≤ 255), brightness
    * variant shifts EVERY cell (hash-invariant by construction), edit
    * variant bumps one cell (flips ≤ 2 comparison bits — still within
    * [[MaxHamming]]). The DuckDB oracle recomputes this exact function.
    */
  def fixtureGray(docId: Long, x: Int, y: Int): Int = {
    val v = variantOf(docId)
    (XHash.h60(s"${contentKey(docId)}_${x}_$y") % 215).toInt + 10 +
      (if (v == 1) 16 else 0) +
      (if (v == 2 && x == 3 && y == 2) 31 else 0)
  }

  /** The registered image fixture: a real 9×8 BMP of [[fixtureGray]] —
    * grid-sized, so the downsample is the identity and the oracle's
    * pixel-level closed form IS the block-level one.
    */
  def fixtureBmp(docId: Long): Array[Byte] =
    makeBmp(9, 8, (x, y) => fixtureGray(docId, x, y))

  /** Bands per wide (256-bit) hash: 8 × 32 bits. */
  val BandsWide = 8

  /** Hamming threshold for the wide (256-bit) hash: ≤ 7 pigeonholes into
    * the 8 × 32-bit bands.
    */
  val MaxHammingWide = 7

  /** 17×16 fixture twin for the WIDE hash's scale runs — same closed-form
    * gray, grid-sized for [[dhashBandsWide]]; variant semantics carry
    * over (brightness stays hamming-0, the one-cell bump stays ≤ 2 bits,
    * both within [[MaxHammingWide]]).
    */
  def fixtureBmpWide(docId: Long): Array[Byte] =
    makeBmp(17, 16, (x, y) => fixtureGray(docId, x, y))

  /** The x139 status aggregation over the fixture corpus — shared by the
    * registered query (classic 64-bit pin) and the ScaleSmoke wide twin
    * (`wide = true`: [[dhashBandsWide]] + [[MaxHammingWide]], the
    * [[BandBoundary]] production swap measured on the same fixture).
    */
  def fixtureImageStatuses(
      spark: SparkSession,
      docs: DataFrame,
      wide: Boolean = false,
      sidecarName: Option[(String, String)] = None): DataFrame =
    statusFrame(
      hashedFixture(spark, docs,
        if (wide) fixtureBmpWide else fixtureBmp,
        p => if (wide) dhashBandsWide(p) else dhashBands(p),
        sidecarName),
      "near_dup_image",
      if (wide) MaxHammingWide else MaxHamming)
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
      .orderBy("status")

  /** Closed-form fixture frame level in [30, 235] after variants: gain
    * variant shifts every frame (+10, hash-invariant), edit variant bumps
    * frame 7 (+25, flips ≤ 2 bits).
    */
  def fixtureFrame(docId: Long, f: Int): Int = {
    val v = variantOf(docId)
    (XHash.h60(s"${contentKey(docId)}~$f") % 181).toInt + 30 +
      (if (v == 1) 10 else 0) +
      (if (v == 2 && f == 7) 25 else 0)
  }

  /** The registered audio fixture: a real 8-bit PCM WAV, 8 samples per
    * frame × [[AudioFrames]] frames at 8 kHz, frame-constant levels from
    * [[fixtureFrame]] (so the decoder's frame SUMS compare exactly like
    * the closed-form levels).
    */
  def fixtureWav(docId: Long): Array[Byte] = {
    // one md5 per FRAME, not per sample — the level is frame-constant
    val levels = Array.tabulate(AudioFrames)(f => fixtureFrame(docId, f))
    makeWav8(8000, Array.tabulate(AudioFrames * 8)(j => levels(j / 8)))
  }

  /** Closed-form fixture video frame gray in [30, 235] after variants —
    * the audio closed form's shape with its own content separator ('^',
    * so video fixture content never collides with audio's): brightness
    * variant shifts every frame (+10, hash-invariant — every window sum
    * moves by the same 1000·10·npx), edit variant bumps frame 7 (+25,
    * flips ≤ 2 comparison bits).
    */
  def fixtureFrameVid(docId: Long, f: Int): Int = {
    val v = variantOf(docId)
    (XHash.h60(s"${contentKey(docId)}^$f") % 181).toInt + 30 +
      (if (v == 1) 10 else 0) +
      (if (v == 2 && f == 7) 25 else 0)
  }

  /** The registered video fixture: a real AVI of [[VideoWindows]] 4×4
    * frames, each frame a constant gray from [[fixtureFrameVid]] — one
    * frame per hash window, so the decoder's window SUMS (16 000 × level)
    * compare exactly like the closed-form levels and the DuckDB oracle
    * recomputes the hash from the level function alone.
    */
  def fixtureAvi(docId: Long): Array[Byte] = {
    // one md5 per FRAME, not per pixel — makeAvi evaluates its gray
    // closure per pixel, so the closed form is precomputed (the
    // fixtureWav levels pattern)
    val levels = Array.tabulate(VideoWindows)(f => fixtureFrameVid(docId, f))
    makeAvi(4, 4, VideoWindows, (f, _, _) => levels(f))
  }

  /** The brightened/re-encoded video fixture: [[fixtureAvi]]'s closed
    * form with every frame gray shifted by `off` (re-arrival targets are
    * v = 0, base ≤ 210, so +10 never wraps a byte) — hash-invariant by
    * construction, the edit the admission leg exists to catch.
    */
  def fixtureAviShift(vidId: Long, off: Int): Array[Byte] = {
    val levels = Array.tabulate(VideoWindows)(f => fixtureFrameVid(vidId, f) + off)
    makeAvi(4, 4, VideoWindows, (f, _, _) => levels(f))
  }

  /** The re-rendered video fixture: the SAME closed-form frames at 2×
    * resolution (8×8) — every window sum scales by exactly 4, no
    * comparison flips, so the re-render hashes IDENTICALLY through the
    * real encode → decode path (spec-pinned; the x142 invariance on the
    * temporal axis).
    */
  def fixtureAvi2x(vidId: Long): Array[Byte] = {
    val levels = Array.tabulate(VideoWindows)(f => fixtureFrameVid(vidId, f))
    makeAvi(8, 8, VideoWindows, (f, _, _) => levels(f))
  }

  /** The [[VideoWindowsWide]]-frame fixture twin for WIDE scale runs —
    * same closed-form levels, one frame per wide window; variant
    * semantics carry over (brightness stays hamming-0, the frame-7 bump
    * stays ≤ 2 bits, both within [[MaxHammingWide]]).
    */
  def fixtureAviWide(vidId: Long): Array[Byte] = {
    val levels = Array.tabulate(VideoWindowsWide)(f => fixtureFrameVid(vidId, f))
    makeAvi(4, 4, VideoWindowsWide, (f, _, _) => levels(f))
  }

  /** Closed-form frame level for the x149 scene fixture: 6 planted scenes
    * of 5 frames each — scene base in [50, 199], per-frame jitter < 10
    * (always under the 50-level cut threshold, so cuts can only occur at
    * scene boundaries, where |Δbase + Δjitter| > 50 sometimes holds and
    * sometimes doesn't — both cells carry data).
    */
  def fixtureSceneLevel(docId: Long, f: Int): Int =
    (XHash.h60(s"${docId}s${f / 5}") % 150).toInt + 50 +
      (XHash.h60(s"${docId}j$f") % 10).toInt

  /** The x149 fixture: a real 30-frame 4×4 AVI of constant-gray frames
    * from [[fixtureSceneLevel]] — frame mean e3 luma exactly 1000 ×
    * level, so the cut rule |Δ| > 50 levels is the decoder's exact
    * integer comparison.
    */
  def fixtureAviScenes(docId: Long): Array[Byte] = {
    val levels = Array.tabulate(30)(f => fixtureSceneLevel(docId, f))
    makeAvi(4, 4, 30, (f, _, _) => levels(f))
  }

  /** Closed-form PER-PIXEL frame gray for the x148 fixture — the
    * thumbnail-match family needs frames big enough for the image dHash
    * grid (9×8), with full per-pixel structure so a frame's dHash is as
    * informative as a real image's. '#' separates this content space
    * from the image ('_'), audio ('~') and window-video ('^') fixtures.
    */
  def fixtureVidFrameGray(docId: Long, f: Int, x: Int, y: Int): Int =
    (XHash.h60(s"$docId#${f}_${x}_$y") % 215).toInt + 10

  /** The x148 video fixture: a real 65-frame 9×8 AVI of
    * [[fixtureVidFrameGray]] — grid-sized frames, so an extracted frame
    * hashes through the REAL javax.imageio decode exactly like
    * [[fixtureBmp]] does.
    */
  def fixtureAviFrames(docId: Long): Array[Byte] = {
    // per-pixel structure ONLY on the frames the 16-stride extraction
    // samples — the frames the operator ever hashes; filler frames are
    // frame-constant (one md5 each), so synthesis stays ~400 hashes per
    // video instead of 4680 (65 × 72)
    val fill = Array.tabulate(VideoWindows)(f =>
      (XHash.h60(s"$docId#c$f") % 215).toInt + 10)
    makeAvi(9, 8, VideoWindows, (f, x, y) =>
      if (f % 16 == 0) fixtureVidFrameGray(docId, f, x, y) else fill(f))
  }

  /** Closed-form frame level for the x146 quality fixture: ~10% of frames
    * forced BLACK (level 5 — mean e3 luma 5000, under the 30 000
    * threshold), every f ≡ 3 (mod 7) frame COPYING its predecessor's
    * base level (a forced frozen run; (f−1) ≡ 2 (mod 7) is never itself
    * frozen, so the SQL twin's `lag` is non-recursive), the rest in
    * [40, 139]. Adjacent base levels can also collide by hash chance —
    * the decoder and the oracle apply the SAME equality rule, so chance
    * collisions count as frozen on both engines.
    */
  def fixtureQualityLevel(docId: Long, f: Int): Int = {
    def base(g: Int): Int = {
      val r = (XHash.h60(s"${docId}v$g") % 100).toInt
      if (r < 10) 5 else 40 + r
    }
    if (f % 7 == 3) base(f - 1) else base(f)
  }

  /** The x146 fixture: a real 20-frame 4×4 AVI of constant-gray frames
    * from [[fixtureQualityLevel]] — frame luma sum exactly 16 000 ×
    * level, so the DuckDB oracle recomputes every quality counter from
    * the level closed form.
    */
  def fixtureAviQuality(docId: Long): Array[Byte] = {
    val levels = Array.tabulate(20)(f => fixtureQualityLevel(docId, f))
    makeAvi(4, 4, 20, (f, _, _) => levels(f))
  }

  /** Hash the fixture images/audio for a (doc_id, img_id) frame — one
    * real synthesize → decode → hash round trip per doc, batched per
    * partition like every decode step in [[Multimodal]]. `img_id` is the
    * CONTENT id the payload is synthesized from (x141's re-posts share
    * the original's image under a new doc_id); x139/x140 pass the
    * identity.
    */
  private def hashedFixture(
      spark: SparkSession,
      docs: DataFrame,
      mk: Long => Array[Byte],
      hash: Array[Byte] => Option[Array[Long]],
      sidecarName: Option[(String, String)] = None): DataFrame = {
    import spark.implicits._
    val src =
      if (docs.columns.contains("img_id")) docs.select(col("doc_id"), col("img_id"))
      else docs.select(col("doc_id"), col("doc_id").as("img_id"))
    // (name, sfDir) routes the SYNTHESIZED payloads through the battery
    // fixture sidecar, so timed bench runs price decode+hash over read
    // payloads (what a corpus run pays) instead of per-pixel synthesis;
    // identity outside the battery, where payloads stream straight into
    // the hash in one pass.
    val payloads = sidecarName match {
      case Some((name, dir)) =>
        sidecar(spark, name, dir)(
          src.as[(Long, Long)]
            .mapPartitions(_.map { case (id, imgId) => (id, mk(imgId)) })
            .toDF("doc_id", "payload"))
      case None =>
        src.as[(Long, Long)]
          .mapPartitions(_.map { case (id, imgId) => (id, mk(imgId)) })
          .toDF("doc_id", "payload")
    }
    payloads.as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, p) =>
        val b = hash(p).getOrElse(
          throw new IllegalStateException(s"fixture payload for doc $id failed to decode"))
        (id, b)
      }
    }.toDF("doc_id", "bands")
  }

  /** Hash a (doc_id, img_id, off) source — the admit fixtures' sides,
    * where re-arrivals carry the ORIGINAL's content shifted by `off` (the
    * re-encode/re-gain edit the whole family exists to catch). `mk`
    * synthesizes the real container bytes for (content id, shift); `hash`
    * is the modality's band function.
    */
  private def hashedShiftFixture(
      spark: SparkSession,
      src: DataFrame,
      mk: (Long, Int) => Array[Byte],
      hash: Array[Byte] => Option[Array[Long]],
      sidecarName: Option[(String, String)] = None): DataFrame = {
    import spark.implicits._
    // same sidecar split as [[hashedFixture]]: synthesis rides the battery
    // fixture cache, decode+hash stays timed
    val payloads = sidecarName match {
      case Some((name, dir)) =>
        sidecar(spark, name, dir)(
          src.select(col("doc_id"), col("img_id"), col("off")).as[(Long, Long, Int)]
            .mapPartitions(_.map { case (id, img, off) => (id, mk(img, off)) })
            .toDF("doc_id", "payload"))
      case None =>
        src.select(col("doc_id"), col("img_id"), col("off")).as[(Long, Long, Int)]
          .mapPartitions(_.map { case (id, img, off) => (id, mk(img, off)) })
          .toDF("doc_id", "payload")
    }
    payloads.as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val b = hash(p)
          .getOrElse(throw new IllegalStateException(s"fixture payload for doc $id failed to decode"))
        (id, b)
      })
      .toDF("doc_id", "bands")
  }

  /** The brightened image fixture: [[fixtureBmp]]'s closed form with every
    * gray shifted by `off` (re-arrival targets are v = 0, base ≤ 224, so
    * +16 never wraps a byte).
    */
  def fixtureBmpShift(imgId: Long, off: Int): Array[Byte] =
    makeBmp(9, 8, (x, y) => fixtureGray(imgId, x, y) + off)

  /** The re-gained audio fixture: [[fixtureWav]]'s closed form with every
    * frame level shifted by `off` (base ≤ 210 + v2's 25 = 235; the +10
    * gain rides only on v = 0 re-arrivals, ceiling 220 — no byte wrap).
    */
  def fixtureWavShift(audId: Long, off: Int): Array[Byte] = {
    val levels = Array.tabulate(AudioFrames)(f => fixtureFrame(audId, f) + off)
    makeWav8(8000, Array.tabulate(AudioFrames * 8)(j => levels(j / 8)))
  }

  /** Shared Spark side of x74_admit_img / x74_admit_aud: build the
    * admission fixture populations ([[admitSrc2Sql]]'s split), hash both
    * sides through the REAL encode → decode path, run
    * [[admitMediaCompare]] + [[admitMediaStrictLosers]], and fold the
    * four-status report.
    */
  private def admitFixtureStatuses(
      s: SparkSession,
      ids: DataFrame,
      off: Int,
      mk: (Long, Int) => Array[Byte],
      hash: Array[Byte] => Option[Array[Long]],
      corpusStatus: String,
      batchStatus: String,
      sidecarName: Option[(String, String)] = None): DataFrame = {
    val corpusSrc = ids.filter(col("doc_id") % 9 =!= 0)
      .select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("off"))
    val batchSrc = ids.filter(col("doc_id") % 9 === 0)
      .select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("off"))
      .unionByName(ids.filter(col("doc_id") % 45 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(off).as("off")))
      .unionByName(ids.filter(col("doc_id") % 9 === 0 && col("doc_id") % 5 >= 3)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(off).as("off")))
    val frame = DedupClusters.ckpt(
      admitMediaCompare(
        DedupClusters.ckpt(
          hashedShiftFixture(s, corpusSrc, mk, hash,
            sidecarName.map { case (n, d) => (s"${n}_corpus", d) })
            .select(col("doc_id").as("cv_id"), col("bands"))),
        DedupClusters.ckpt(
          hashedShiftFixture(s, batchSrc, mk, hash,
            sidecarName.map { case (n, d) => (s"${n}_batch", d) }))))
    val losers = admitMediaStrictLosers(
      DedupClusters.ckpt(frame.filter(!col("near_med")).select("doc_id", "bands")))
      .withColumn("lb", lit(true))
    frame.join(losers, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("near_med"), corpusStatus)
          .when(coalesce(col("lb"), lit(false)), batchStatus)
          .otherwise("admitted").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
      .orderBy("status")
  }

  /** Public fixture-bands frame (doc_id, bands) for the scale smoke's
    * cached media state — each row is a real synthesize → decode → hash
    * round trip over [[fixtureBmp]].
    */
  def fixtureBands(spark: SparkSession, docs: DataFrame): DataFrame =
    hashedFixture(spark, docs, fixtureBmp, p => dhashBands(p))

  /** The x142 fixture: the SAME closed-form gray function rendered at 2×
    * resolution (18×16) — every source pixel becomes a 2×2 block. The
    * dHash is EXACTLY resolution-invariant for integer scales: the 9×8
    * downsample grid's block sums scale by 4 and counts by 4, and the
    * cross-multiplied comparison (`sumA·cntB > sumB·cntA`) cancels the
    * factor — so the scaled re-post hashes IDENTICALLY through the real
    * javax.imageio decode, with zero float arithmetic to drift.
    */
  def fixtureBmp2x(imgId: Long): Array[Byte] =
    makeBmp(18, 16, (x, y) => fixtureGray(imgId, x / 2, y / 2))

  /** x141's augmented corpus: the real documents plus two deterministic
    * re-post populations (the x47 mirror-augmentation pattern — the
    * driver fixture has no exact text dups of its own), with `img_id`
    * carrying WHICH image content each doc posts: every 10th doc
    * re-arrives with the same caption but its OWN (new) image (same
    * boilerplate caption, different picture), every 20th re-arrives with
    * the same caption AND the original's image (a true re-post). The two
    * offsets are ≡ 0 mod [[ClusterSize]], so variant semantics are
    * preserved under the shift.
    */
  private def crossmodalSrc(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("doc_id").as("img_id"), col("text"))
    base
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          (col("doc_id") + 2000000L).as("img_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          col("doc_id").as("img_id"), col("text")))
  }

  // ---------------------------------------------------------------------
  // oracle SQL builders (shared CTE text between x139 and x141)
  // ---------------------------------------------------------------------

  /** CTEs dv → dk → px → ig → ib → ibands → cand → hm → p over a
    * preceding `src(doc_id, img_id)` CTE: the image fixture's closed-form
    * grays, dHash bits, 16-bit bands, pigeonhole candidates and
    * hamming-verified pairs — the SQL twin of [[fixtureBmp]] →
    * [[dhashBands]] → [[bandNearDupPairs]].
    */
  private def imagePairsSql: String =
    s"$imageBitsSql, ${bandsPairsSql("ib")}"

  /** src(doc_id, img_id) → fixture grays → comparison bits `ib` — the
    * prefix shared by the pair queries and the compact query (which needs
    * band values but no pair join).
    */
  private def imageBitsSql: String =
    s"dv AS (SELECT doc_id, img_id // $ClusterSize AS c, img_id % $ClusterSize AS v FROM src), " +
      "dk AS (SELECT doc_id, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END AS ck FROM dv), " +
      "px AS (SELECT doc_id, v, ck, x, y FROM dk, " +
      "(SELECT unnest(generate_series(0, 8)) AS x), " +
      "(SELECT unnest(generate_series(0, 7)) AS y)), " +
      "ig AS (SELECT doc_id, x, y, " +
      s"(${XHash.h60Sql("CAST(ck AS VARCHAR) || '_' || CAST(x AS VARCHAR) || '_' || CAST(y AS VARCHAR)")} % 215) + 10 " +
      "+ CASE WHEN v = 1 THEN 16 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND x = 3 AND y = 2 THEN 31 ELSE 0 END AS g FROM px), " +
      "ib AS (SELECT l.doc_id, l.y * 8 + l.x AS i, CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit " +
      "FROM ig l JOIN ig r ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1 WHERE l.x < 8)"

  /** CTEs af → ag → ab → ibands → cand → hm → p over a preceding
    * `src(doc_id, img_id)` CTE (`img_id` names the CONTENT, the same
    * convention as the image builder — x141's audio re-posts share the
    * original's clip under a new doc_id; x140 passes the identity) —
    * same band/candidate/verify tail, frame levels instead of grays.
    */
  private def audioPairsSql: String =
    s"dv AS (SELECT doc_id, img_id // $ClusterSize AS c, img_id % $ClusterSize AS v FROM src), " +
      "dk AS (SELECT doc_id, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END AS ck FROM dv), " +
      s"af AS (SELECT doc_id, v, ck, f FROM dk, (SELECT unnest(generate_series(0, ${AudioFrames - 1})) AS f)), " +
      "ag AS (SELECT doc_id, f, " +
      s"(${XHash.h60Sql("CAST(ck AS VARCHAR) || '~' || CAST(f AS VARCHAR)")} % 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND f = 7 THEN 25 ELSE 0 END AS g FROM af), " +
      s"ab AS (SELECT l.doc_id, l.f AS i, CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit " +
      s"FROM ag l JOIN ag r ON r.doc_id = l.doc_id AND r.f = l.f + 1 WHERE l.f < ${AudioFrames - 1}), " +
      bandsPairsSql("ab")

  /** The video twin of [[audioPairsSql]] over a preceding
    * `src(doc_id, img_id)` CTE: closed-form frame grays (the '^'
    * separator keeps video content distinct from audio's '~'), 64
    * adjacent-window comparisons, the shared band/candidate/verify tail.
    * The oracle sees the LEVELS because the fixture's window sums are
    * exactly 16 000 × level — the Spark side's real AVI encode → RIFF
    * walk → window sums must land on the same comparisons or the hash
    * mismatches.
    */
  private def videoPairsSql: String =
    s"dv AS (SELECT doc_id, img_id // $ClusterSize AS c, img_id % $ClusterSize AS v FROM src), " +
      "dk AS (SELECT doc_id, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END AS ck FROM dv), " +
      s"vf AS (SELECT doc_id, v, ck, f FROM dk, (SELECT unnest(generate_series(0, ${VideoWindows - 1})) AS f)), " +
      "vg AS (SELECT doc_id, f, " +
      s"(${XHash.h60Sql("CAST(ck AS VARCHAR) || '^' || CAST(f AS VARCHAR)")} % 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND f = 7 THEN 25 ELSE 0 END AS g FROM vf), " +
      s"vb AS (SELECT l.doc_id, l.f AS i, CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit " +
      s"FROM vg l JOIN vg r ON r.doc_id = l.doc_id AND r.f = l.f + 1 WHERE l.f < ${VideoWindows - 1}), " +
      bandsPairsSql("vb")

  /** bits → 16-bit band values, one row per (doc, band index). */
  private def ibandsSql(bitsCte: String): String =
    s"ibands AS (SELECT doc_id, i // 16 AS j, CAST(sum(bit << (i % 16)) AS BIGINT) AS bv " +
      s"FROM $bitsCte GROUP BY 1, 2)"

  /** The shared tail: bits → 16-bit bands → pigeonhole candidates →
    * hamming ≤ [[MaxHamming]] verified pairs.
    */
  private def bandsPairsSql(bitsCte: String): String =
    s"${ibandsSql(bitsCte)}, " +
      "cand AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb FROM ibands a " +
      "JOIN ibands b ON b.j = a.j AND b.bv = a.bv AND a.doc_id < b.doc_id), " +
      "hm AS (SELECT c.pa, c.pb, sum(bit_count(xor(xb.bv, yb.bv))) AS hd FROM cand c " +
      "JOIN ibands xb ON xb.doc_id = c.pa " +
      "JOIN ibands yb ON yb.doc_id = c.pb AND yb.j = xb.j GROUP BY 1, 2), " +
      s"p AS (SELECT pa, pb FROM hm WHERE hd <= $MaxHamming)"

  /** Two-side (corpus 'c' / batch 'b') band CTEs for the x74_admit_img
    * oracle: src2(doc_id, img_id, off, side) → grays (+off brightness on
    * re-arrivals) → bits → bnd(doc_id, side, j, bv) → batch-vs-corpus
    * near set → admitted strict pairs p — the SQL twin of
    * [[admitMediaCompare]] + [[admitMediaStrictLosers]]. Re-arrival
    * populations are % 45 == 0 (v = 0 always, so base ≤ 224 and the +16
    * brightness stays ≤ 255 — no byte wrap on either engine) and
    * % 9 == 0 ∧ v ≥ 3 (content unique to the batch: the intra-batch-only
    * pair the strict pass exists for).
    */
  private def admitImgSql: String =
    s"${admitSrc2Sql(16)}, " +
      s"dv2 AS (SELECT doc_id, side, off, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src2), " +
      "dk2 AS (SELECT doc_id, side, off, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv2), " +
      "px2 AS (SELECT doc_id, side, off, v, ck, x, y FROM dk2, " +
      "(SELECT unnest(generate_series(0, 8)) AS x), " +
      "(SELECT unnest(generate_series(0, 7)) AS y)), " +
      "ig2 AS (SELECT doc_id, side, x, y, " +
      s"(${XHash.h60Sql("CAST(ck AS VARCHAR) || '_' || CAST(x AS VARCHAR) || '_' || CAST(y AS VARCHAR)")} % 215) + 10 " +
      "+ CASE WHEN v = 1 THEN 16 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND x = 3 AND y = 2 THEN 31 ELSE 0 END + off AS g FROM px2), " +
      "ib2 AS (SELECT l.doc_id, l.side, l.y * 8 + l.x AS i, " +
      "CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit " +
      "FROM ig2 l JOIN ig2 r ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1 " +
      "WHERE l.x < 8), " +
      admitTailSql("near_dup_corpus_img")

  /** The audio twin of [[admitImgSql]]: frame levels instead of pixel
    * grays, a +10 GAIN on the re-arrival populations instead of the +16
    * brightness (both hash-invariant by construction); the side-tagged
    * bits flow through the same band/candidate/strict tail. Level ceiling:
    * base ≤ 210, +10 gain (v = 0 re-arrivals) ≤ 220 ≤ 255 — no byte wrap
    * on either engine.
    */
  private def admitAudSql: String =
    s"${admitSrc2Sql(10)}, " +
      s"dv2 AS (SELECT doc_id, side, off, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src2), " +
      "dk2 AS (SELECT doc_id, side, off, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv2), " +
      "af2 AS (SELECT doc_id, side, off, v, ck, f FROM dk2, " +
      s"(SELECT unnest(generate_series(0, ${AudioFrames - 1})) AS f)), " +
      "ag2 AS (SELECT doc_id, side, f, " +
      s"(${XHash.h60Sql("CAST(ck AS VARCHAR) || '~' || CAST(f AS VARCHAR)")} % 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND f = 7 THEN 25 ELSE 0 END + off AS g FROM af2), " +
      "ib2 AS (SELECT l.doc_id, l.side, l.f AS i, " +
      "CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit " +
      "FROM ag2 l JOIN ag2 r ON r.doc_id = l.doc_id AND r.f = l.f + 1 " +
      s"WHERE l.f < ${AudioFrames - 1}), " +
      admitTailSql("near_dup_corpus_aud")

  /** The video twin of [[admitAudSql]]: closed-form frame grays (the '^'
    * content separator), a +10 BRIGHTNESS on the re-arrival populations
    * (hash-invariant by construction — every window sum shifts equally);
    * the side-tagged bits flow through the same band/candidate/strict
    * tail. Level ceiling: base ≤ 210, +10 shift (v = 0 re-arrivals)
    * ≤ 220 ≤ 255 — no byte wrap on either engine.
    */
  private def admitVidSql: String =
    s"${admitSrc2Sql(10)}, " +
      s"dv2 AS (SELECT doc_id, side, off, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src2), " +
      "dk2 AS (SELECT doc_id, side, off, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv2), " +
      "vf2 AS (SELECT doc_id, side, off, v, ck, f FROM dk2, " +
      s"(SELECT unnest(generate_series(0, ${VideoWindows - 1})) AS f)), " +
      "vg2 AS (SELECT doc_id, side, f, " +
      s"(${XHash.h60Sql("CAST(ck AS VARCHAR) || '^' || CAST(f AS VARCHAR)")} % 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND f = 7 THEN 25 ELSE 0 END + off AS g FROM vf2), " +
      "ib2 AS (SELECT l.doc_id, l.side, l.f AS i, " +
      "CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit " +
      "FROM vg2 l JOIN vg2 r ON r.doc_id = l.doc_id AND r.f = l.f + 1 " +
      s"WHERE l.f < ${VideoWindows - 1}), " +
      admitTailSql("near_dup_corpus_vid")

  /** Shared oracle-CTE prefix for the x147 PAIR (exact + LSH): the
    * closed-form trim fixture's distinct frame-bigram sets
    * `bg(doc_id, g1, g2)` plus per-doc set sizes `sz(doc_id, n)` — one
    * source of truth so the two registered forms can never drift on what
    * the fixture IS.
    */
  private def x147BgSql: String =
    "src AS (SELECT doc_id, doc_id AS img_id, 0 AS off, " +
      s"$VideoWindows AS nf FROM documents " +
      s"UNION ALL SELECT doc_id + 5000000, doc_id, 10, ${VideoWindows - 10} " +
      "FROM documents WHERE doc_id % 15 = 0), " +
      s"dv AS (SELECT doc_id, off, nf, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src), " +
      "dk AS (SELECT doc_id, off, nf, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv), " +
      "vf AS (SELECT doc_id, v, ck, off + unnest(generate_series(0, nf - 1)) AS fo FROM dk), " +
      "vg AS (SELECT doc_id, fo, " +
      s"(${XHash.h60Sql("CAST(ck AS VARCHAR) || '^' || CAST(fo AS VARCHAR)")} % 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND fo = 7 THEN 25 ELSE 0 END AS g FROM vf), " +
      "bg AS (SELECT DISTINCT l.doc_id, l.g AS g1, r.g AS g2 FROM vg l " +
      "JOIN vg r ON r.doc_id = l.doc_id AND r.fo = l.fo + 1), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY 1)"

  /** The LSH-containment oracle CTEs over a `bg(doc_id, g1, g2)` + `sz`
    * prefix — DuckDB recomputing the IDENTICAL candidate set: the
    * fixtures' uniform content units (4×4 frames for x147, 8×8 tiles for
    * x152) make the decoded fingerprint a closed form of the level
    * (s = npx·1000·g, q = npx·(1000·g)² — BT.601 luma of r=g=b=g is
    * exactly 1000g), hashed through the same md5 h60 and the same
    * inlined affine permutation literals as the Spark plan. `sMul`/`qMul`
    * are those closed-form multipliers (npx·1000 and npx·10⁶).
    */
  private def lshContainSql(sMul: Long, qMul: Long): String = {
    val k = 16
    val bands = 4
    val hkInner =
      s"CAST($sMul * g1 AS VARCHAR) || '^' || CAST($qMul * g1 * g1 AS VARCHAR) " +
        s"|| '^' || CAST($sMul * g2 AS VARCHAR) || '^' || CAST($qMul * g2 * g2 AS VARCHAR)"
    s"hk AS (SELECT doc_id, ${XHash.h60Sql(hkInner)} AS hk FROM bg), " +
      s"mins AS (SELECT doc_id, ${Lsh.containmentMinsSql(k)} FROM hk GROUP BY doc_id), " +
      s"bnd AS (${Lsh.containmentBandsSql("mins", "doc_id", k, bands)}), " +
      "cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bnd a " +
      "JOIN bnd b ON a.bj = b.bj AND a.bk = b.bk AND a.doc_id < b.doc_id), " +
      "icv AS (SELECT c.a, c.b, count(*) AS i FROM cand c " +
      "JOIN bg xa ON xa.doc_id = c.a JOIN bg xb ON xb.doc_id = c.b " +
      "AND xb.g1 = xa.g1 AND xb.g2 = xa.g2 GROUP BY 1, 2), " +
      "jv AS (SELECT a, b, i, sa.n AS na, sb.n AS nb FROM icv " +
      "JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b) " +
      "SELECT a AS doc_id_a, b AS doc_id_b, CAST(i AS BIGINT) AS n_inter, " +
      "CAST(na AS BIGINT) AS n_a FROM jv WHERE 5 * i >= 4 * na " +
      "UNION ALL SELECT b AS doc_id_a, a AS doc_id_b, CAST(i AS BIGINT) AS n_inter, " +
      "CAST(nb AS BIGINT) AS n_a FROM jv WHERE 5 * i >= 4 * nb " +
      "ORDER BY doc_id_a, doc_id_b"
  }

  /** Closed-form fixture TILE gray for the x152 pair — the video frame
    * closed form ([[fixtureFrameVid]]) one modality over, with its own
    * content separator ('t'): brightness variant shifts every tile (+10
    * — moves every MOMENT, so by design NOT contained: the containment
    * signal is brightness-sensitive, unlike the dHash), edit variant
    * bumps tile (2, 2) (+25 — kills exactly the 2 diagonal neighborhoods
    * touching it, 18/20 stays over the 0.8 rule).
    */
  def fixtureTileLvl(docId: Long, i: Int, j: Int): Int = {
    val v = variantOf(docId)
    (XHash.h60(s"${contentKey(docId)}t${i}_$j") % 181).toInt + 30 +
      (if (v == 1) 10 else 0) +
      (if (v == 2 && i == 2 && j == 2) 25 else 0)
  }

  /** x152's fixture tile grid: 6×5 tiles of [[TileSize]] px (48×40 px
    * BMPs); the crop re-post drops the first tile row AND column (5×4).
    */
  val CropTilesX = 6
  val CropTilesY = 5

  /** Shared oracle-CTE prefix for the x152 pair — [[x147BgSql]] one
    * modality over: the closed-form CROP fixture's distinct diagonal
    * tile-neighborhood sets `bg(doc_id, g1, g2)` + sizes `sz`. `off` is
    * the crop's TILE offset (crop tile (i, j) = source tile (i+1, j+1)),
    * so the crop replays the source's exact levels shifted — the
    * tile-aligned containment the operator exists to catch.
    */
  private def x152BgSql: String =
    "src AS (SELECT doc_id, doc_id AS img_id, 0 AS off FROM documents " +
      "UNION ALL SELECT doc_id + 5000000, doc_id, 1 FROM documents " +
      "WHERE doc_id % 15 = 0), " +
      s"dv AS (SELECT doc_id, off, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src), " +
      "dk AS (SELECT doc_id, off, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv), " +
      s"ti AS (SELECT doc_id, v, ck, off, " +
      s"unnest(generate_series(0, ${CropTilesX - 1} - off)) AS i FROM dk), " +
      s"tf AS (SELECT doc_id, v, ck, off, i, " +
      s"unnest(generate_series(0, ${CropTilesY - 1} - off)) AS j FROM ti), " +
      "tg AS (SELECT doc_id, i, j, " +
      s"(${XHash.h60Sql(
        "CAST(ck AS VARCHAR) || 't' || CAST(i + off AS VARCHAR) || '_' || CAST(j + off AS VARCHAR)")} " +
      "% 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND i + off = 2 AND j + off = 2 THEN 25 ELSE 0 END AS g FROM tf), " +
      "bg AS (SELECT DISTINCT l.doc_id, l.g AS g1, r.g AS g2 FROM tg l " +
      "JOIN tg r ON r.doc_id = l.doc_id AND r.i = l.i + 1 AND r.j = l.j + 1), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY 1)"

  /** Shared Spark-side fixture media for the x152 pair: one real
    * 6×5-tile BMP per doc, plus every 15th doc's tile-aligned CROP
    * (tiles (1..5, 1..4) re-posted under a disjoint id) — the population
    * [[x152BgSql]] describes in closed form. One md5 per TILE, not per
    * pixel (the fixtureAvi levels pattern).
    */
  private def x152FixtureMedia(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val src = ids.select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("off"))
      .unionByName(ids.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(1).as("off")))
    src.as[(Long, Long, Int)]
      .mapPartitions(_.map { case (id, img, off) =>
        val tw = CropTilesX - off
        val th = CropTilesY - off
        val levels =
          Array.tabulate(tw, th)((i, j) => fixtureTileLvl(img, i + off, j + off))
        (id, makeBmp(tw * TileSize, th * TileSize,
          (x, y) => levels(x / TileSize)(y / TileSize)))
      })
      .toDF("doc_id", "payload")
  }

  /** Closed-form fixture UTTERANCE level for the x153 pair — the tile/
    * frame closed forms one modality over, with its own content
    * separator ('a'): voiced levels in [2, 81] (never inside the
    * silenceMax=1 band, and 81+25+128 stays under the 8-bit rail);
    * gain variant shifts every utterance (+10 — moves every voiced-core
    * moment, by design NOT contained: the containment signal is
    * gain-sensitive, the dHash's complement), edit variant bumps
    * utterance 3 (+25 — kills exactly the 2 adjacent bigrams, 19/21
    * stays over the 0.8 rule).
    */
  def fixtureUttLvl(docId: Long, u: Int): Int = {
    val v = variantOf(docId)
    (XHash.h60(s"${contentKey(docId)}a$u") % 80).toInt + 2 +
      (if (v == 1) 10 else 0) +
      (if (v == 2 && u == 3) 25 else 0)
  }

  /** x153's fixture clip grammar: [[UttCount]] utterances of [[UttLen]]
    * constant-level samples, separated by exactly-gapMin (8) silence;
    * the excerpt re-post drops the first [[UttDrop]] utterances AND cuts
    * 4 samples INTO the preceding separator — the mid-separator cut the
    * voiced-core rule exists for (4 < gapMin leading silent samples
    * attach OUTSIDE every core, so the surviving fingerprints are
    * bit-exact).
    */
  val UttCount = 22
  val UttLen = 12
  val UttDrop = 7

  /** A real 8-bit WAV of the x153 closed form, starting at utterance
    * `uttOff` (0 = the full clip; > 0 = the excerpt, led by the
    * 4-sample mid-separator remnant).
    */
  def fixtureWavUtt(docId: Long, uttOff: Int = 0): Array[Byte] = {
    val lead = if (uttOff == 0) Seq.empty[Int] else Seq.fill(4)(128)
    val samples = lead ++ (uttOff until UttCount).zipWithIndex.flatMap {
      case (u, idx) =>
        val g = fixtureUttLvl(docId, u)
        (if (idx == 0) Seq.empty[Int] else Seq.fill(8)(128)) ++
          Seq.fill(UttLen)(128 + g)
    }
    makeWav8(8000, samples.toArray)
  }

  /** Shared oracle-CTE prefix for the x153 pair — the x147/x152 shape on
    * the utterance axis: the closed-form excerpt fixture's distinct
    * adjacent-utterance bigram sets `bg(doc_id, g1, g2)` + sizes `sz`.
    * `off` is the excerpt's utterance offset.
    */
  private def x153BgSql: String =
    "src AS (SELECT doc_id, doc_id AS img_id, 0 AS off FROM documents " +
      s"UNION ALL SELECT doc_id + 5000000, doc_id, $UttDrop FROM documents " +
      "WHERE doc_id % 15 = 0), " +
      s"dv AS (SELECT doc_id, off, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src), " +
      "dk AS (SELECT doc_id, off, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv), " +
      s"uf AS (SELECT doc_id, v, ck, " +
      s"off + unnest(generate_series(0, ${UttCount - 1} - off)) AS u FROM dk), " +
      "ug AS (SELECT doc_id, u, " +
      s"(${XHash.h60Sql("CAST(ck AS VARCHAR) || 'a' || CAST(u AS VARCHAR)")} % 80) + 2 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND u = 3 THEN 25 ELSE 0 END AS g FROM uf), " +
      "bg AS (SELECT DISTINCT l.doc_id, l.g AS g1, r.g AS g2 FROM ug l " +
      "JOIN ug r ON r.doc_id = l.doc_id AND r.u = l.u + 1), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY 1)"

  /** Shared Spark-side fixture media for the x153 pair: one real
    * [[UttCount]]-utterance WAV per doc, plus every 15th doc's EXCERPT
    * (utterances 7..21 re-posted under a disjoint id, cut mid-separator)
    * — the population [[x153BgSql]] describes in closed form.
    */
  private def x153FixtureMedia(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val src = ids.select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("off"))
      .unionByName(ids.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(UttDrop).as("off")))
    src.as[(Long, Long, Int)]
      .mapPartitions(_.map { case (id, img, off) => (id, fixtureWavUtt(img, off)) })
      .toDF("doc_id", "payload")
  }

  /** Closed-form fixture tile level for the x154/x155 pair — the x152
    * tile closed form with a FRAME axis and its own content separator
    * ('w'): per-(frame, tile) levels in [30, 236]; brightness variant
    * shifts every tile of every frame (+10 — moves every moment, by
    * design NOT contained); edit variant bumps frame 1's tile (2, 2)
    * (+25 — kills exactly the 2 diagonal neighborhoods touching it in
    * that frame, ≥118/120 stays over the 0.8 rule).
    */
  def fixtureVidTileLvl(docId: Long, f: Int, i: Int, j: Int): Int = {
    val v = variantOf(docId)
    (XHash.h60(s"${contentKey(docId)}w${f}_${i}_$j") % 181).toInt + 30 +
      (if (v == 1) 10 else 0) +
      (if (v == 2 && f == 1 && i == 2 && j == 2) 25 else 0)
  }

  /** Frames per x154/x155 fixture video — enough that the spatial crop's
    * per-frame subset relation is exercised across several frames while
    * the 500-doc fixture stays decode-cheap (6 × 6×5 tiles = 720 tile
    * moments per clip).
    */
  val VcropFrames = 6

  /** Shared oracle-CTE prefix for the x154 pair — [[x152BgSql]] with the
    * frame axis: the closed-form SPATIAL-crop fixture's distinct
    * per-frame diagonal tile-neighborhood sets `bg(doc_id, g1, g2)` +
    * sizes `sz`. `off` is the crop's TILE offset applied to EVERY frame
    * (crop tile (i, j) of frame f = source tile (i+1, j+1) of the SAME
    * frame f) — the letterbox-strip/watermark-crop re-render the
    * temporal signals cannot see.
    */
  private def x154BgSql: String =
    "src AS (SELECT doc_id, doc_id AS img_id, 0 AS off FROM documents " +
      "UNION ALL SELECT doc_id + 5000000, doc_id, 1 FROM documents " +
      "WHERE doc_id % 15 = 0), " +
      s"dv AS (SELECT doc_id, off, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src), " +
      "dk AS (SELECT doc_id, off, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv), " +
      s"fr AS (SELECT doc_id, v, ck, off, " +
      s"unnest(generate_series(0, ${VcropFrames - 1})) AS f FROM dk), " +
      s"ti AS (SELECT doc_id, v, ck, off, f, " +
      s"unnest(generate_series(0, ${CropTilesX - 1} - off)) AS i FROM fr), " +
      s"tf AS (SELECT doc_id, v, ck, off, f, i, " +
      s"unnest(generate_series(0, ${CropTilesY - 1} - off)) AS j FROM ti), " +
      "tg AS (SELECT doc_id, f, i, j, " +
      s"(${XHash.h60Sql(
        "CAST(ck AS VARCHAR) || 'w' || CAST(f AS VARCHAR) || '_' || " +
          "CAST(i + off AS VARCHAR) || '_' || CAST(j + off AS VARCHAR)")} " +
      "% 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND f = 1 AND i + off = 2 AND j + off = 2 THEN 25 ELSE 0 END " +
      "AS g FROM tf), " +
      "bg AS (SELECT DISTINCT l.doc_id, l.g AS g1, r.g AS g2 FROM tg l " +
      "JOIN tg r ON r.doc_id = l.doc_id AND r.f = l.f " +
      "AND r.i = l.i + 1 AND r.j = l.j + 1), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY 1)"

  /** Shared Spark-side fixture media for the x154 pair: one real
    * [[VcropFrames]]-frame AVI of 6×5-tile frames per doc, plus every
    * 15th doc's SPATIAL CROP (every frame's tiles (1..5, 1..4) re-posted
    * under a disjoint id — same frames, smaller canvas) — the population
    * [[x154BgSql]] describes in closed form. One md5 per (frame, tile).
    */
  private def x154FixtureMedia(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val src = ids.select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("off"))
      .unionByName(ids.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(1).as("off")))
    src.as[(Long, Long, Int)]
      .mapPartitions(_.map { case (id, img, off) => (id, fixtureAviTiles(img, off)) })
      .toDF("doc_id", "payload")
  }

  /** A real AVI of the x154 closed form at tile offset `off` (0 = the
    * full 6×5-tile clip; 1 = the spatial crop: every frame's tile grid
    * shifted one row + column, 5×4 tiles).
    */
  def fixtureAviTiles(docId: Long, off: Int): Array[Byte] = {
    val tw = CropTilesX - off
    val th = CropTilesY - off
    // one md5 per (frame, tile), not per pixel (the fixtureAvi pattern)
    val levels = Array.tabulate(VcropFrames, tw, th)(
      (f, i, j) => fixtureVidTileLvl(docId, f, i + off, j + off))
    makeAvi(tw * TileSize, th * TileSize, VcropFrames,
      (f, x, y) => levels(f)(x / TileSize)(y / TileSize))
  }

  /** Shared oracle-CTE prefix for the x155 pair: the full-grid x154
    * videos' per-FRAME bigram sets `vbg(doc_id, f, g1, g2)` plus the
    * THUMBNAIL images' sets `tbg(img_id, g1, g2)` + sizes `tsz` — every
    * 3rd doc posts a thumbnail of its video's frame (doc div 3) mod
    * [[VcropFrames]], CROPPED one tile row + column when doc ≡ 0
    * (mod 6), full-frame otherwise. Thumbnail ids live at +7000000 —
    * the globally-unique-id precondition.
    */
  private def x155BgSql: String =
    s"vdv AS (SELECT doc_id, doc_id // $ClusterSize AS c, " +
      s"doc_id % $ClusterSize AS v FROM documents), " +
      "vdk AS (SELECT doc_id, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM vdv), " +
      s"vfr AS (SELECT doc_id, v, ck, " +
      s"unnest(generate_series(0, ${VcropFrames - 1})) AS f FROM vdk), " +
      s"vti AS (SELECT doc_id, v, ck, f, " +
      s"unnest(generate_series(0, ${CropTilesX - 1})) AS i FROM vfr), " +
      s"vtf AS (SELECT doc_id, v, ck, f, i, " +
      s"unnest(generate_series(0, ${CropTilesY - 1})) AS j FROM vti), " +
      "vtg AS (SELECT doc_id, f, i, j, " +
      s"(${XHash.h60Sql(
        "CAST(ck AS VARCHAR) || 'w' || CAST(f AS VARCHAR) || '_' || " +
          "CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)")} " +
      "% 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND f = 1 AND i = 2 AND j = 2 THEN 25 ELSE 0 END " +
      "AS g FROM vtf), " +
      "vbg AS (SELECT DISTINCT l.doc_id, l.f, l.g AS g1, r.g AS g2 FROM vtg l " +
      "JOIN vtg r ON r.doc_id = l.doc_id AND r.f = l.f " +
      "AND r.i = l.i + 1 AND r.j = l.j + 1), " +
      "tsrc AS (SELECT doc_id + 7000000 AS img_id, doc_id, " +
      s"(doc_id // 3) % $VcropFrames AS f0, " +
      "CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS toff " +
      "FROM documents WHERE doc_id % 3 = 0), " +
      s"tdv AS (SELECT img_id, f0, toff, doc_id // $ClusterSize AS c, " +
      s"doc_id % $ClusterSize AS v FROM tsrc), " +
      "tdk AS (SELECT img_id, f0, toff, v, " +
      "c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END AS ck FROM tdv), " +
      s"tti AS (SELECT img_id, f0, toff, v, ck, " +
      s"unnest(generate_series(0, ${CropTilesX - 1} - toff)) AS i FROM tdk), " +
      s"ttf AS (SELECT img_id, f0, toff, v, ck, i, " +
      s"unnest(generate_series(0, ${CropTilesY - 1} - toff)) AS j FROM tti), " +
      "ttg AS (SELECT img_id, i, j, " +
      s"(${XHash.h60Sql(
        "CAST(ck AS VARCHAR) || 'w' || CAST(f0 AS VARCHAR) || '_' || " +
          "CAST(i + toff AS VARCHAR) || '_' || CAST(j + toff AS VARCHAR)")} " +
      "% 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND f0 = 1 AND i + toff = 2 AND j + toff = 2 THEN 25 ELSE 0 END " +
      "AS g FROM ttf), " +
      "tbg AS (SELECT DISTINCT l.img_id, l.g AS g1, r.g AS g2 FROM ttg l " +
      "JOIN ttg r ON r.img_id = l.img_id AND r.i = l.i + 1 AND r.j = l.j + 1), " +
      "tsz AS (SELECT img_id, count(*) AS n FROM tbg GROUP BY 1)"

  /** The exact x155 oracle tail over [[x155BgSql]]'s `tbg`/`tsz`/`vbg`:
    * bipartite directional containment, image side only.
    */
  private def x155ExactTailSql: String =
    "inter AS (SELECT t.img_id, v.doc_id AS vid_id, v.f, count(*) AS i FROM tbg t " +
      "JOIN vbg v ON v.g1 = t.g1 AND v.g2 = t.g2 GROUP BY 1, 2, 3) " +
      "SELECT inter.img_id AS doc_id, vid_id, CAST(f AS BIGINT) AS frame_idx, " +
      "CAST(i AS BIGINT) AS n_inter, CAST(tsz.n AS BIGINT) AS n_a " +
      "FROM inter JOIN tsz ON tsz.img_id = inter.img_id " +
      "WHERE 5 * i >= 4 * tsz.n ORDER BY doc_id, vid_id, frame_idx"

  /** The BIPARTITE LSH-containment oracle tail over [[x155BgSql]] —
    * [[lshContainSql]]'s recipe with per-side minhash groups (images by
    * img_id, videos by (doc_id, f)) and the x155 recall-leaning 8×2
    * geometry; `sMul`/`qMul` are the uniform-tile closed-form
    * multipliers (64000 and 64·10⁶ for 8-px tiles).
    */
  private def lshThumbSql(sMul: Long, qMul: Long): String = {
    val k = 16
    val bands = 8
    def hkInner(g1: String, g2: String) =
      s"CAST($sMul * $g1 AS VARCHAR) || '^' || CAST($qMul * $g1 * $g1 AS VARCHAR) " +
        s"|| '^' || CAST($sMul * $g2 AS VARCHAR) || '^' || CAST($qMul * $g2 * $g2 AS VARCHAR)"
    val minCols = Lsh.containmentMinsSql(k)
    def bandSel(src: String, group: String) = Lsh.containmentBandsSql(src, group, k, bands)
    s"thk AS (SELECT img_id, ${XHash.h60Sql(hkInner("g1", "g2"))} AS hk FROM tbg), " +
      s"tmins AS (SELECT img_id, $minCols FROM thk GROUP BY img_id), " +
      s"tbnd AS (${bandSel("tmins", "img_id")}), " +
      s"vhk AS (SELECT doc_id, f, ${XHash.h60Sql(hkInner("g1", "g2"))} AS hk FROM vbg), " +
      s"vmins AS (SELECT doc_id, f, $minCols FROM vhk GROUP BY doc_id, f), " +
      s"vbnd AS (${bandSel("vmins", "doc_id, f")}), " +
      "cand AS (SELECT DISTINCT t.img_id, v.doc_id AS vid_id, v.f FROM tbnd t " +
      "JOIN vbnd v ON v.bj = t.bj AND v.bk = t.bk), " +
      "icv AS (SELECT c.img_id, c.vid_id, c.f, count(*) AS i FROM cand c " +
      "JOIN tbg ON tbg.img_id = c.img_id " +
      "JOIN vbg ON vbg.doc_id = c.vid_id AND vbg.f = c.f " +
      "AND vbg.g1 = tbg.g1 AND vbg.g2 = tbg.g2 GROUP BY 1, 2, 3) " +
      "SELECT icv.img_id AS doc_id, vid_id, CAST(f AS BIGINT) AS frame_idx, " +
      "CAST(i AS BIGINT) AS n_inter, CAST(tsz.n AS BIGINT) AS n_a " +
      "FROM icv JOIN tsz ON tsz.img_id = icv.img_id " +
      "WHERE 5 * i >= 4 * tsz.n ORDER BY doc_id, vid_id, frame_idx"
  }

  /** Shared Spark-side fixture media for the x155 pair: the full-grid
    * x154 videos (one per doc) plus every 3rd doc's THUMBNAIL — a real
    * BMP of one frame, cropped one tile row + column when doc ≡ 0
    * (mod 6) — the population [[x155BgSql]] describes in closed form.
    * Returns (videos, images).
    */
  private def x155FixtureMedia(ids: DataFrame): (DataFrame, DataFrame) = {
    val spark = ids.sparkSession
    import spark.implicits._
    val vids = ids.as[Long]
      .mapPartitions(_.map(id => (id, fixtureAviTiles(id, 0))))
      .toDF("doc_id", "payload")
    val thumbs = ids.filter(col("doc_id") % 3 === 0).as[Long]
      .mapPartitions(_.map { id =>
        val f0 = ((id / 3) % VcropFrames).toInt
        val off = if (id % 6 == 0) 1 else 0
        (id + 7000000L, fixtureThumbBmp(id, f0, off))
      })
      .toDF("doc_id", "payload")
    (vids, thumbs)
  }

  /** A real BMP of ONE x154 closed-form frame at tile offset `off` — the
    * thumbnail re-post (0 = the full frame, 1 = the tile-aligned crop).
    */
  def fixtureThumbBmp(docId: Long, f0: Int, off: Int): Array[Byte] = {
    val tw = CropTilesX - off
    val th = CropTilesY - off
    val levels =
      Array.tabulate(tw, th)((i, j) => fixtureVidTileLvl(docId, f0, i + off, j + off))
    makeBmp(tw * TileSize, th * TileSize,
      (x, y) => levels(x / TileSize)(y / TileSize))
  }

  /** x156's fixture fine grid: 16×12 cells of [[TileSize]] px (128×96 px
    * originals) — big enough that the 2× AND 4× canonical downscales
    * both carry multi-tile grids (8×6 and 4×3 super-tiles).
    */
  val RcropFineX = 16
  val RcropFineY = 12

  /** Closed-form fixture CELL gray for the x156 pair — fresh content per
    * image (no cluster variants: the resized-crop signal is exercised by
    * the scale chain itself), its own content separator ('rc').
    */
  def fixtureRcropLvl(imgId: Long, i: Int, j: Int): Int =
    (XHash.h60(s"${imgId}rc${i}_$j") % 181).toInt + 30

  /** One x156 fixture payload: `kind` 0 = the 128×96 original (cell
    * (i, j) rendered as an 8-px tile), 2 = the 2×-RESIZED crop — cells
    * (2..15, 2..11) of the original's grid at FOUR px per cell, exactly
    * the canonical 2× box downscale of the 16-px-aligned 112×80 crop
    * (cell-constant gray makes the channel averaging exact, so the
    * render IS what an area-average thumbnailer produces) — and 4 = the
    * 4×-resized crop (cells (4..15, 4..11) at TWO px per cell, the
    * 32-px-aligned crop through the 4× reduction).
    */
  def fixtureRcropBmp(imgId: Long, kind: Int): Array[Byte] = kind match {
    case 0 =>
      val lv = Array.tabulate(RcropFineX, RcropFineY)((i, j) => fixtureRcropLvl(imgId, i, j))
      makeBmp(RcropFineX * TileSize, RcropFineY * TileSize,
        (x, y) => lv(x / TileSize)(y / TileSize))
    case 2 =>
      val lv = Array.tabulate(RcropFineX - 2, RcropFineY - 2)(
        (i, j) => fixtureRcropLvl(imgId, i + 2, j + 2))
      makeBmp((RcropFineX - 2) * 4, (RcropFineY - 2) * 4, (u, v) => lv(u / 4)(v / 4))
    case 4 =>
      val lv = Array.tabulate(RcropFineX - 4, RcropFineY - 4)(
        (i, j) => fixtureRcropLvl(imgId, i + 4, j + 4))
      makeBmp((RcropFineX - 4) * 2, (RcropFineY - 4) * 2, (u, v) => lv(u / 2)(v / 2))
    case _ => throw new IllegalArgumentException(s"kind=$kind")
  }

  /** Shared Spark-side fixture media for the x156 pair: one 128×96
    * original per doc, every 15th doc's 2×-resized crop at +5000000,
    * every 45th doc's 4×-resized crop at +6000000 — the population
    * [[x156BgSql]] describes in closed form.
    */
  private def x156FixtureMedia(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val src = ids.select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("kind"))
      .unionByName(ids.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(2).as("kind")))
      .unionByName(ids.filter(col("doc_id") % 45 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(4).as("kind")))
    src.as[(Long, Long, Int)]
      .mapPartitions(_.map { case (id, img, kind) => (id, fixtureRcropBmp(img, kind)) })
      .toDF("doc_id", "payload")
  }

  /** Cluster-keyed x156 cell level for the ADMISSION fixture — the
    * established variant machinery (variants 0-2 share content; v = 1
    * shifts every cell +10, v = 2 bumps cell (2, 2) +25) on the rcrop
    * fine grid, so a batch crop of a %45==0 doc has CORPUS content
    * siblings: the v=2 sibling's scaled set differs in exactly the one
    * super-tile holding the bumped cell (23/24 stays over the rule), the
    * v=1 sibling moves every moment (the brightness rule, no match).
    */
  def fixtureRcropLvlCk(imgId: Long, i: Int, j: Int): Int = {
    val v = variantOf(imgId)
    (XHash.h60(s"${contentKey(imgId)}rc${i}_$j") % 181).toInt + 30 +
      (if (v == 1) 10 else 0) +
      (if (v == 2 && i == 2 && j == 2) 25 else 0)
  }

  /** [[fixtureRcropBmp]] with the cluster-keyed levels — the admission
    * fixture's payload (kind 0 = full 128×96 original, 2 = the
    * 2×-resized 16-px-aligned crop).
    */
  def fixtureRcropBmpCk(imgId: Long, kind: Int): Array[Byte] = kind match {
    case 0 =>
      val lv = Array.tabulate(RcropFineX, RcropFineY)((i, j) => fixtureRcropLvlCk(imgId, i, j))
      makeBmp(RcropFineX * TileSize, RcropFineY * TileSize,
        (x, y) => lv(x / TileSize)(y / TileSize))
    case 2 =>
      val lv = Array.tabulate(RcropFineX - 2, RcropFineY - 2)(
        (i, j) => fixtureRcropLvlCk(imgId, i + 2, j + 2))
      makeBmp((RcropFineX - 2) * 4, (RcropFineY - 2) * 4, (u, v) => lv(u / 4)(v / 4))
    case _ => throw new IllegalArgumentException(s"kind=$kind")
  }

  /** Shared oracle-CTE prefix for the x156 pair: the closed-form
    * fixture's per-doc shingle sets ACROSS SCALE LEVELS. The fine cell
    * grid `rlv` (16×12, one md5 per cell) is the single source of truth;
    * every set is a window-sum family over it — native tiles are single
    * cells (s = 64000·g for an 8-px tile of luma 1000g), 2× super-tiles
    * are 2×2 cell sums ×16000 (16 px per cell after the downscale), 4×
    * super-tiles 4×4 sums ×4000, and the 2×-resized crop's sets are the
    * same families at the crop's cell offset — which is exactly why the
    * operator works: the repost's NATIVE tiles land in the original's
    * SCALED families. `rsh(doc_id, scale, s1, q1, s2, q2)` are the
    * DISTINCT diagonal-neighborhood fingerprints per (doc, scale);
    * `rsz` the native-set sizes.
    */
  private def x156BgSql: String =
    "msrc AS (SELECT doc_id, doc_id AS img, 0 AS kind FROM documents " +
      "UNION ALL SELECT doc_id + 5000000, doc_id, 2 FROM documents WHERE doc_id % 15 = 0 " +
      "UNION ALL SELECT doc_id + 6000000, doc_id, 4 FROM documents WHERE doc_id % 45 = 0), " +
      "rlv AS (SELECT d.doc_id AS img, ci.i, cj.j, " +
      s"(${XHash.h60Sql(
        "CAST(d.doc_id AS VARCHAR) || 'rc' || CAST(ci.i AS VARCHAR) || '_' || CAST(cj.j AS VARCHAR)")} " +
      "% 181) + 30 AS g FROM documents d, " +
      s"(SELECT unnest(generate_series(0, ${RcropFineX - 1})) AS i) ci, " +
      s"(SELECT unnest(generate_series(0, ${RcropFineY - 1})) AS j) cj), " +
      "rps AS (SELECT l.img, o.x0, o.y0, sum(l.g) AS s, sum(l.g * l.g) AS q FROM rlv l " +
      s"JOIN (SELECT x0, y0 FROM (SELECT unnest(generate_series(0, ${RcropFineX - 2})) AS x0), " +
      s"(SELECT unnest(generate_series(0, ${RcropFineY - 2})) AS y0)) o " +
      "ON l.i >= o.x0 AND l.i < o.x0 + 2 AND l.j >= o.y0 AND l.j < o.y0 + 2 " +
      "GROUP BY 1, 2, 3), " +
      "rws AS (SELECT l.img, o.x0, o.y0, sum(l.g) AS s, sum(l.g * l.g) AS q FROM rlv l " +
      s"JOIN (SELECT x0, y0 FROM (SELECT unnest(generate_series(0, ${RcropFineX - 4})) AS x0), " +
      s"(SELECT unnest(generate_series(0, ${RcropFineY - 4})) AS y0)) o " +
      "ON l.i >= o.x0 AND l.i < o.x0 + 4 AND l.j >= o.y0 AND l.j < o.y0 + 4 " +
      "GROUP BY 1, 2, 3), " +
      "rtl AS (" +
      "SELECT m.doc_id, 1 AS scale, l.i AS ti, l.j AS tj, " +
      "64000 * l.g AS s, 64000000 * l.g * l.g AS q " +
      "FROM msrc m JOIN rlv l ON l.img = m.img WHERE m.kind = 0 " +
      "UNION ALL SELECT m.doc_id, 2, p.x0 // 2, p.y0 // 2, 16000 * p.s, 16000000 * p.q " +
      "FROM msrc m JOIN rps p ON p.img = m.img " +
      "WHERE m.kind = 0 AND p.x0 % 2 = 0 AND p.y0 % 2 = 0 " +
      "UNION ALL SELECT m.doc_id, 4, w.x0 // 4, w.y0 // 4, 4000 * w.s, 4000000 * w.q " +
      "FROM msrc m JOIN rws w ON w.img = m.img " +
      "WHERE m.kind = 0 AND w.x0 % 4 = 0 AND w.y0 % 4 = 0 " +
      "UNION ALL SELECT m.doc_id, 1, (p.x0 - 2) // 2, (p.y0 - 2) // 2, " +
      "16000 * p.s, 16000000 * p.q " +
      "FROM msrc m JOIN rps p ON p.img = m.img " +
      "WHERE m.kind = 2 AND p.x0 % 2 = 0 AND p.x0 >= 2 AND p.y0 % 2 = 0 AND p.y0 >= 2 " +
      "UNION ALL SELECT m.doc_id, 2, (w.x0 - 2) // 4, (w.y0 - 2) // 4, " +
      "4000 * w.s, 4000000 * w.q " +
      "FROM msrc m JOIN rws w ON w.img = m.img " +
      "WHERE m.kind = 2 AND w.x0 % 4 = 2 AND w.y0 % 4 = 2 " +
      "UNION ALL SELECT m.doc_id, 1, (w.x0 - 4) // 4, (w.y0 - 4) // 4, " +
      "4000 * w.s, 4000000 * w.q " +
      "FROM msrc m JOIN rws w ON w.img = m.img " +
      "WHERE m.kind = 4 AND w.x0 % 4 = 0 AND w.x0 >= 4 AND w.y0 % 4 = 0 AND w.y0 >= 4), " +
      "rsh AS (SELECT DISTINCT l.doc_id, l.scale, l.s AS s1, l.q AS q1, " +
      "r.s AS s2, r.q AS q2 FROM rtl l JOIN rtl r ON r.doc_id = l.doc_id " +
      "AND r.scale = l.scale AND r.ti = l.ti + 1 AND r.tj = l.tj + 1), " +
      "rsz AS (SELECT doc_id, count(*) AS n FROM rsh WHERE scale = 1 GROUP BY 1)"

  /** The exact x156 oracle tail over [[x156BgSql]]: native-vs-scaled
    * bipartite directional containment, native side's size pricing the
    * ratio, per-scale verdicts.
    */
  private def x156ExactTailSql: String =
    "rint AS (SELECT a.doc_id, b.doc_id AS src_id, b.scale, count(*) AS i " +
      "FROM rsh a JOIN rsh b ON a.scale = 1 AND b.scale <> 1 AND b.doc_id <> a.doc_id " +
      "AND b.s1 = a.s1 AND b.q1 = a.q1 AND b.s2 = a.s2 AND b.q2 = a.q2 " +
      "GROUP BY 1, 2, 3) " +
      "SELECT r.doc_id, r.src_id, CAST(r.scale AS INTEGER) AS scale, " +
      "CAST(r.i AS BIGINT) AS n_inter, CAST(z.n AS BIGINT) AS n_a " +
      "FROM rint r JOIN rsz z ON z.doc_id = r.doc_id " +
      "WHERE 5 * r.i >= 4 * z.n ORDER BY 1, 2, 3"

  /** The x156 LSH oracle tail over [[x156BgSql]] — [[lshThumbSql]]'s
    * bipartite recipe across SCALE levels: hk over the ACTUAL fingerprint
    * columns (the sets span several closed-form value families, so the
    * hash key concatenates the numeric moments directly — exactly what
    * the Spark engine hashes), per-side minhash groups (native by doc,
    * scaled by (doc, scale)), the recall-leaning 8×2 geometry.
    */
  private def x156LshTailSql: String = {
    val k = 16
    val bands = 8
    val hkInner =
      "CAST(s1 AS VARCHAR) || '^' || CAST(q1 AS VARCHAR) || '^' || " +
        "CAST(s2 AS VARCHAR) || '^' || CAST(q2 AS VARCHAR)"
    val minCols = Lsh.containmentMinsSql(k)
    def bandSel(src: String, group: String) = Lsh.containmentBandsSql(src, group, k, bands)
    s"nhk AS (SELECT doc_id, ${XHash.h60Sql(hkInner)} AS hk FROM rsh WHERE scale = 1), " +
      s"nmins AS (SELECT doc_id, $minCols FROM nhk GROUP BY doc_id), " +
      s"nbnd AS (${bandSel("nmins", "doc_id")}), " +
      s"shk AS (SELECT doc_id AS src_id, scale, ${XHash.h60Sql(hkInner)} AS hk " +
      "FROM rsh WHERE scale <> 1), " +
      s"smins AS (SELECT src_id, scale, $minCols FROM shk GROUP BY src_id, scale), " +
      s"sbnd AS (${bandSel("smins", "src_id, scale")}), " +
      "rcand AS (SELECT DISTINCT n.doc_id, s.src_id, s.scale FROM nbnd n " +
      "JOIN sbnd s ON s.bj = n.bj AND s.bk = n.bk AND s.src_id <> n.doc_id), " +
      "ricv AS (SELECT c.doc_id, c.src_id, c.scale, count(*) AS i FROM rcand c " +
      "JOIN rsh a ON a.doc_id = c.doc_id AND a.scale = 1 " +
      "JOIN rsh b ON b.doc_id = c.src_id AND b.scale = c.scale " +
      "AND b.s1 = a.s1 AND b.q1 = a.q1 AND b.s2 = a.s2 AND b.q2 = a.q2 " +
      "GROUP BY 1, 2, 3) " +
      "SELECT r.doc_id, r.src_id, CAST(r.scale AS INTEGER) AS scale, " +
      "CAST(r.i AS BIGINT) AS n_inter, CAST(z.n AS BIGINT) AS n_a " +
      "FROM ricv r JOIN rsz z ON z.doc_id = r.doc_id " +
      "WHERE 5 * r.i >= 4 * z.n ORDER BY 1, 2, 3"
  }

  /** The resized-crop-admission oracle — the [[admitSrc2Sql]] population
    * with `off` meaning "is the 2×-RESIZED 16-px-aligned crop", levels
    * cluster-keyed ([[fixtureRcropLvlCk]]'s closed form), sets computed
    * per (doc, side, role, scale): the compare joins batch NATIVE
    * fingerprints against corpus SCALED families per scale (the
    * RescaleSpace asymmetry — n_sh prices the native set), the strict
    * pass runs the bipartite native-vs-scaled qualification over the
    * still-admitted docs, one CC, keep-best by TOTAL (native + scaled)
    * fingerprints, ending in the x74 report shape.
    */
  private def admitRcropSql: String =
    s"${admitSrc2Sql(1)}, " +
      s"adv AS (SELECT DISTINCT img_id, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src2), " +
      "adk AS (SELECT img_id, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM adv), " +
      "alv AS (SELECT k.img_id, k.v, ci.i, cj.j, " +
      s"(${XHash.h60Sql(
        "CAST(ck AS VARCHAR) || 'rc' || CAST(ci.i AS VARCHAR) || '_' || CAST(cj.j AS VARCHAR)")} " +
      "% 181) + 30 " +
      "+ CASE WHEN k.v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN k.v = 2 AND ci.i = 2 AND cj.j = 2 THEN 25 ELSE 0 END AS g " +
      "FROM adk k, " +
      s"(SELECT unnest(generate_series(0, ${RcropFineX - 1})) AS i) ci, " +
      s"(SELECT unnest(generate_series(0, ${RcropFineY - 1})) AS j) cj), " +
      "aps AS (SELECT l.img_id, o.x0, o.y0, sum(l.g) AS s, sum(l.g * l.g) AS q " +
      "FROM alv l JOIN " +
      s"(SELECT x0, y0 FROM (SELECT unnest(generate_series(0, ${RcropFineX - 2})) AS x0), " +
      s"(SELECT unnest(generate_series(0, ${RcropFineY - 2})) AS y0)) o " +
      "ON l.i >= o.x0 AND l.i < o.x0 + 2 AND l.j >= o.y0 AND l.j < o.y0 + 2 " +
      "GROUP BY 1, 2, 3), " +
      "aws AS (SELECT l.img_id, o.x0, o.y0, sum(l.g) AS s, sum(l.g * l.g) AS q " +
      "FROM alv l JOIN " +
      s"(SELECT x0, y0 FROM (SELECT unnest(generate_series(0, ${RcropFineX - 4})) AS x0), " +
      s"(SELECT unnest(generate_series(0, ${RcropFineY - 4})) AS y0)) o " +
      "ON l.i >= o.x0 AND l.i < o.x0 + 4 AND l.j >= o.y0 AND l.j < o.y0 + 4 " +
      "GROUP BY 1, 2, 3), " +
      "atl AS (" +
      // corpus scaled families (the rs2/rs4 state)
      "SELECT s2.doc_id, s2.side, 'scl' AS role, 2 AS scale, p.x0 // 2 AS ti, " +
      "p.y0 // 2 AS tj, 16000 * p.s AS s, 16000000 * p.q AS q " +
      "FROM src2 s2 JOIN aps p ON p.img_id = s2.img_id " +
      "WHERE s2.side = 'c' AND p.x0 % 2 = 0 AND p.y0 % 2 = 0 " +
      "UNION ALL SELECT s2.doc_id, s2.side, 'scl', 4, w.x0 // 4, w.y0 // 4, " +
      "4000 * w.s, 4000000 * w.q " +
      "FROM src2 s2 JOIN aws w ON w.img_id = s2.img_id " +
      "WHERE s2.side = 'c' AND w.x0 % 4 = 0 AND w.y0 % 4 = 0 " +
      // batch native sets: originals are the fine grid, crops the
      // 2x-crop family at cell offset 2
      "UNION ALL SELECT s2.doc_id, s2.side, 'nat', 1, l.i, l.j, " +
      "64000 * l.g, 64000000 * l.g * l.g " +
      "FROM src2 s2 JOIN alv l ON l.img_id = s2.img_id " +
      "WHERE s2.side = 'b' AND s2.off = 0 " +
      "UNION ALL SELECT s2.doc_id, s2.side, 'nat', 1, (p.x0 - 2) // 2, (p.y0 - 2) // 2, " +
      "16000 * p.s, 16000000 * p.q " +
      "FROM src2 s2 JOIN aps p ON p.img_id = s2.img_id " +
      "WHERE s2.side = 'b' AND s2.off = 1 " +
      "AND p.x0 % 2 = 0 AND p.x0 >= 2 AND p.y0 % 2 = 0 AND p.y0 >= 2 " +
      // batch scaled sets (append/strict role): originals' 2x/4x
      // families; crops' own 2x downscale
      "UNION ALL SELECT s2.doc_id, s2.side, 'scl', 2, p.x0 // 2, p.y0 // 2, " +
      "16000 * p.s, 16000000 * p.q " +
      "FROM src2 s2 JOIN aps p ON p.img_id = s2.img_id " +
      "WHERE s2.side = 'b' AND s2.off = 0 AND p.x0 % 2 = 0 AND p.y0 % 2 = 0 " +
      "UNION ALL SELECT s2.doc_id, s2.side, 'scl', 4, w.x0 // 4, w.y0 // 4, " +
      "4000 * w.s, 4000000 * w.q " +
      "FROM src2 s2 JOIN aws w ON w.img_id = s2.img_id " +
      "WHERE s2.side = 'b' AND s2.off = 0 AND w.x0 % 4 = 0 AND w.y0 % 4 = 0 " +
      "UNION ALL SELECT s2.doc_id, s2.side, 'scl', 2, (w.x0 - 2) // 4, (w.y0 - 2) // 4, " +
      "4000 * w.s, 4000000 * w.q " +
      "FROM src2 s2 JOIN aws w ON w.img_id = s2.img_id " +
      "WHERE s2.side = 'b' AND s2.off = 1 AND w.x0 % 4 = 2 AND w.y0 % 4 = 2), " +
      "ash AS (SELECT DISTINCT l.doc_id, l.side, l.role, l.scale, " +
      "l.s AS s1, l.q AS q1, r.s AS s2, r.q AS q2 " +
      "FROM atl l JOIN atl r ON r.doc_id = l.doc_id AND r.side = l.side " +
      "AND r.role = l.role AND r.scale = l.scale " +
      "AND r.ti = l.ti + 1 AND r.tj = l.tj + 1), " +
      "absz AS (SELECT doc_id, count(*) AS n FROM ash " +
      "WHERE side = 'b' AND role = 'nat' GROUP BY 1), " +
      "aic AS (SELECT b.doc_id, c.doc_id AS cv_id, c.scale, count(*) AS i " +
      "FROM ash b JOIN ash c ON b.side = 'b' AND b.role = 'nat' " +
      "AND c.side = 'c' AND c.role = 'scl' " +
      "AND c.s1 = b.s1 AND c.q1 = b.q1 AND c.s2 = b.s2 AND c.q2 = b.q2 " +
      "GROUP BY 1, 2, 3), " +
      "anear AS (SELECT DISTINCT aic.doc_id FROM aic " +
      "JOIN absz z ON z.doc_id = aic.doc_id WHERE 5 * i >= 4 * z.n), " +
      "ast0 AS (SELECT s.doc_id, CASE WHEN anear.doc_id IS NOT NULL " +
      s"THEN '$RcropCorpusStatus' ELSE 'admitted' END AS status " +
      "FROM src2 s LEFT JOIN anear ON anear.doc_id = s.doc_id WHERE s.side = 'b'), " +
      "admn AS (SELECT ash.doc_id, s1, q1, s2, q2 FROM ash " +
      "JOIN ast0 ON ast0.doc_id = ash.doc_id AND ast0.status = 'admitted' " +
      "WHERE ash.side = 'b' AND ash.role = 'nat'), " +
      "adms AS (SELECT ash.doc_id, s1, q1, s2, q2 FROM ash " +
      "JOIN ast0 ON ast0.doc_id = ash.doc_id AND ast0.status = 'admitted' " +
      "WHERE ash.side = 'b' AND ash.role = 'scl'), " +
      "aszp AS (SELECT doc_id, count(*) AS n FROM admn GROUP BY 1), " +
      "asztot AS (SELECT doc_id, count(*) AS n FROM " +
      "(SELECT * FROM admn UNION ALL SELECT * FROM adms) GROUP BY 1), " +
      "aip AS (SELECT a.doc_id AS na_id, b.doc_id AS sc_id, count(*) AS i " +
      "FROM admn a JOIN adms b ON b.s1 = a.s1 AND b.q1 = a.q1 " +
      "AND b.s2 = a.s2 AND b.q2 = a.q2 AND b.doc_id <> a.doc_id GROUP BY 1, 2), " +
      "ap AS (SELECT least(na_id, sc_id) AS pa, greatest(na_id, sc_id) AS pb " +
      "FROM aip JOIN aszp z ON z.doc_id = aip.na_id WHERE 5 * i >= 4 * z.n), " +
      "ed AS (SELECT pa AS s, pb AS t FROM ap UNION SELECT pb, pa FROM ap), " +
      "reach AS (SELECT s AS id, s AS comp FROM ed " +
      "UNION SELECT ed.s AS id, r.comp FROM ed JOIN reach r ON ed.t = r.id), " +
      "cmp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
      "rk AS (SELECT cmp.id AS doc_id, ROW_NUMBER() OVER (PARTITION BY cmp.component " +
      "ORDER BY asztot.n DESC, cmp.id) AS rn FROM cmp " +
      "JOIN asztot ON asztot.doc_id = cmp.id), " +
      "st AS (SELECT ast0.doc_id, CASE WHEN ast0.status = 'admitted' AND rk.rn > 1 " +
      s"THEN '$RcropStrictStatus' ELSE ast0.status END AS status " +
      "FROM ast0 LEFT JOIN rk ON rk.doc_id = ast0.doc_id) " +
      "SELECT status, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(bit_xor(doc_id) AS BIGINT) AS checksum FROM st GROUP BY status ORDER BY status"

  /** The spatial-crop-admission oracle: [[admitIcropSql]] with the frame
    * axis — `off` is the crop's TILE offset applied to every frame of
    * the batch re-arrival, the bigrams are per-frame diagonal tile
    * neighborhoods, and the tail is the shared containment rule
    * verbatim.
    */
  private def admitVcropSql: String =
    s"${admitSrc2Sql(1)}, " +
      s"dv2 AS (SELECT doc_id, side, off, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src2), " +
      "dk2 AS (SELECT doc_id, side, off, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv2), " +
      s"fr2 AS (SELECT doc_id, side, v, ck, off, " +
      s"unnest(generate_series(0, ${VcropFrames - 1})) AS f FROM dk2), " +
      s"ti2 AS (SELECT doc_id, side, v, ck, off, f, " +
      s"unnest(generate_series(0, ${CropTilesX - 1} - off)) AS i FROM fr2), " +
      s"tf2 AS (SELECT doc_id, side, v, ck, off, f, i, " +
      s"unnest(generate_series(0, ${CropTilesY - 1} - off)) AS j FROM ti2), " +
      "tg2 AS (SELECT doc_id, side, f, i, j, " +
      s"(${XHash.h60Sql(
        "CAST(ck AS VARCHAR) || 'w' || CAST(f AS VARCHAR) || '_' || " +
          "CAST(i + off AS VARCHAR) || '_' || CAST(j + off AS VARCHAR)")} " +
      "% 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND f = 1 AND i + off = 2 AND j + off = 2 THEN 25 ELSE 0 END " +
      "AS g FROM tf2), " +
      "bg2 AS (SELECT DISTINCT l.doc_id, l.side, l.g AS g1, r.g AS g2 FROM tg2 l " +
      "JOIN tg2 r ON r.doc_id = l.doc_id AND r.side = l.side AND r.f = l.f " +
      "AND r.i = l.i + 1 AND r.j = l.j + 1), " +
      admitContainTailSql("near_dup_corpus_vcrop", "near_dup_batch_vcrop")

  /** Shared Spark-side fixture media for the x147 pair: one real
    * [[VideoWindows]]-frame AVI per doc, plus every 15th doc's TRIM
    * (frames 10..64 re-posted under a disjoint id) — the same population
    * [[x147BgSql]] describes in closed form.
    */
  private def x147FixtureMedia(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val src = ids
      .select(col("doc_id"), col("doc_id").as("img_id"),
        lit(0).as("off"), lit(VideoWindows).as("nf"))
      .unionByName(ids.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("doc_id").as("img_id"),
          lit(10).as("off"), lit(VideoWindows - 10).as("nf")))
    src.as[(Long, Long, Int, Int)]
      .mapPartitions(_.map { case (id, img, off, nf) =>
        val levels = Array.tabulate(nf)(f => fixtureFrameVid(img, f + off))
        (id, makeAvi(4, 4, nf, (f, _, _) => levels(f)))
      })
      .toDF("doc_id", "payload")
  }

  /** The shared CONTAINMENT-admission oracle tail over a side-tagged
    * bigram set `bg2(doc_id, side, g1, g2)` — the SQL twin of
    * [[admitTrimCompare]] + [[admitTrimStrictLosers]] (batch-vs-corpus
    * ≥ 0.8 containment → `corpusStatus`; undirected min-side containment
    * CC + keep-MOST-shingles over the still-admitted → `batchStatus`),
    * ending in the x74 report shape. Shared by the vtrim and icrop
    * oracles: the rule is modality-independent once the fingerprints are
    * cut.
    */
  private def admitContainTailSql(corpusStatus: String, batchStatus: String): String =
    "szb AS (SELECT doc_id, count(*) AS n FROM bg2 WHERE side = 'b' GROUP BY 1), " +
      "ic AS (SELECT b.doc_id, c.doc_id AS cv_id, count(*) AS i FROM bg2 b " +
      "JOIN bg2 c ON c.g1 = b.g1 AND c.g2 = b.g2 AND b.side = 'b' AND c.side = 'c' " +
      "GROUP BY 1, 2), " +
      "nearc AS (SELECT DISTINCT ic.doc_id FROM ic JOIN szb ON szb.doc_id = ic.doc_id " +
      "WHERE 5 * i >= 4 * n), " +
      "st0 AS (SELECT s.doc_id, CASE WHEN nearc.doc_id IS NOT NULL " +
      s"THEN '$corpusStatus' ELSE 'admitted' END AS status " +
      "FROM src2 s LEFT JOIN nearc ON nearc.doc_id = s.doc_id WHERE s.side = 'b'), " +
      "admb AS (SELECT bg2.doc_id, g1, g2 FROM bg2 " +
      "JOIN st0 ON st0.doc_id = bg2.doc_id AND st0.status = 'admitted' " +
      "WHERE bg2.side = 'b'), " +
      "szp AS (SELECT doc_id, count(*) AS n FROM admb GROUP BY 1), " +
      "ip AS (SELECT a.doc_id AS pa, b.doc_id AS pb, count(*) AS i FROM admb a " +
      "JOIN admb b ON a.g1 = b.g1 AND a.g2 = b.g2 AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "p AS (SELECT pa, pb FROM ip JOIN szp xa ON xa.doc_id = ip.pa " +
      "JOIN szp xb ON xb.doc_id = ip.pb WHERE 5 * i >= 4 * least(xa.n, xb.n)), " +
      "ed AS (SELECT pa AS s, pb AS t FROM p UNION SELECT pb, pa FROM p), " +
      "reach AS (SELECT s AS id, s AS comp FROM ed " +
      "UNION SELECT ed.s AS id, r.comp FROM ed JOIN reach r ON ed.t = r.id), " +
      "cmp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
      "rk AS (SELECT cmp.id AS doc_id, ROW_NUMBER() OVER (PARTITION BY cmp.component " +
      "ORDER BY szp.n DESC, cmp.id) AS rn FROM cmp JOIN szp ON szp.doc_id = cmp.id), " +
      "st AS (SELECT st0.doc_id, CASE WHEN st0.status = 'admitted' AND rk.rn > 1 " +
      s"THEN '$batchStatus' ELSE st0.status END AS status " +
      "FROM st0 LEFT JOIN rk ON rk.doc_id = st0.doc_id) " +
      "SELECT status, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(bit_xor(doc_id) AS BIGINT) AS checksum FROM st GROUP BY status ORDER BY status"

  /** The trim-admission oracle: the [[admitSrc2Sql]] population split
    * with `off` meaning TRIM START (frames off..64 of the original's
    * closed-form levels) instead of a brightness shift — re-arrivals are
    * re-cuts, the edit the band leg cannot see. Side-tagged distinct
    * frame bigrams feed the shared containment tail
    * ([[admitContainTailSql]]).
    */
  private def admitVtrimSql: String =
    s"${admitSrc2Sql(10)}, " +
      s"dv2 AS (SELECT doc_id, side, off, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src2), " +
      "dk2 AS (SELECT doc_id, side, off, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv2), " +
      "vf2 AS (SELECT doc_id, side, v, ck, " +
      s"off + unnest(generate_series(0, ${VideoWindows - 1} - off)) AS fo FROM dk2), " +
      "vg2 AS (SELECT doc_id, side, fo, " +
      s"(${XHash.h60Sql("CAST(ck AS VARCHAR) || '^' || CAST(fo AS VARCHAR)")} % 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND fo = 7 THEN 25 ELSE 0 END AS g FROM vf2), " +
      "bg2 AS (SELECT DISTINCT l.doc_id, l.side, l.g AS g1, r.g AS g2 FROM vg2 l " +
      "JOIN vg2 r ON r.doc_id = l.doc_id AND r.fo = l.fo + 1), " +
      admitContainTailSql("near_dup_corpus_vtrim", "near_dup_batch_vtrim")

  /** The crop-admission oracle: [[admitVtrimSql]] one modality over —
    * `off` is the crop's TILE offset (batch re-arrivals replay the
    * original's tiles shifted by one row + column), the bigrams are
    * DIAGONAL tile neighborhoods, and the tail is the shared containment
    * rule verbatim.
    */
  private def admitIcropSql: String =
    s"${admitSrc2Sql(1)}, " +
      s"dv2 AS (SELECT doc_id, side, off, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src2), " +
      "dk2 AS (SELECT doc_id, side, off, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv2), " +
      s"ti2 AS (SELECT doc_id, side, v, ck, off, " +
      s"unnest(generate_series(0, ${CropTilesX - 1} - off)) AS i FROM dk2), " +
      s"tf2 AS (SELECT doc_id, side, v, ck, off, i, " +
      s"unnest(generate_series(0, ${CropTilesY - 1} - off)) AS j FROM ti2), " +
      "tg2 AS (SELECT doc_id, side, i, j, " +
      s"(${XHash.h60Sql(
        "CAST(ck AS VARCHAR) || 't' || CAST(i + off AS VARCHAR) || '_' || CAST(j + off AS VARCHAR)")} " +
      "% 181) + 30 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND i + off = 2 AND j + off = 2 THEN 25 ELSE 0 END AS g FROM tf2), " +
      "bg2 AS (SELECT DISTINCT l.doc_id, l.side, l.g AS g1, r.g AS g2 FROM tg2 l " +
      "JOIN tg2 r ON r.doc_id = l.doc_id AND r.i = l.i + 1 AND r.j = l.j + 1), " +
      admitContainTailSql("near_dup_corpus_icrop", "near_dup_batch_icrop")

  /** The excerpt-admission oracle: [[admitVtrimSql]]/[[admitIcropSql]] on
    * the utterance axis — `off` is the excerpt's UTTERANCE offset, the
    * bigrams are adjacent utterance voiced-core moments, and the tail is
    * the shared containment rule verbatim.
    */
  private def admitAtrimSql: String =
    s"${admitSrc2Sql(UttDrop)}, " +
      s"dv2 AS (SELECT doc_id, side, off, img_id // $ClusterSize AS c, " +
      s"img_id % $ClusterSize AS v FROM src2), " +
      "dk2 AS (SELECT doc_id, side, off, v, c * 7 + CASE WHEN v >= 3 THEN v ELSE 0 END " +
      "AS ck FROM dv2), " +
      s"uf2 AS (SELECT doc_id, side, v, ck, " +
      s"off + unnest(generate_series(0, ${UttCount - 1} - off)) AS u FROM dk2), " +
      "ug2 AS (SELECT doc_id, side, u, " +
      s"(${XHash.h60Sql("CAST(ck AS VARCHAR) || 'a' || CAST(u AS VARCHAR)")} % 80) + 2 " +
      "+ CASE WHEN v = 1 THEN 10 ELSE 0 END " +
      "+ CASE WHEN v = 2 AND u = 3 THEN 25 ELSE 0 END AS g FROM uf2), " +
      "bg2 AS (SELECT DISTINCT l.doc_id, l.side, l.g AS g1, r.g AS g2 FROM ug2 l " +
      "JOIN ug2 r ON r.doc_id = l.doc_id AND r.u = l.u + 1), " +
      admitContainTailSql("near_dup_corpus_atrim", "near_dup_batch_atrim")

  /** The admission fixture's population split, shared by both modalities:
    * corpus = docs % 9 ≠ 0 (own content), batch = % 9 = 0 (own) + two
    * re-arrival populations carrying the ORIGINAL's content shifted by
    * `off` — % 45 = 0 (v = 0, siblings in corpus → near_dup_corpus_*) and
    * % 9 = 0 ∧ v ≥ 3 (content unique to the batch: only the strict CC can
    * catch the pair). `img_id` names the content regardless of modality.
    */
  private def admitSrc2Sql(off: Int): String =
    "src2 AS (SELECT doc_id, doc_id AS img_id, 0 AS off, 'c' AS side FROM documents " +
      "WHERE doc_id % 9 <> 0 " +
      "UNION ALL SELECT doc_id, doc_id, 0, 'b' FROM documents WHERE doc_id % 9 = 0 " +
      s"UNION ALL SELECT doc_id + 2000000, doc_id, $off, 'b' FROM documents " +
      "WHERE doc_id % 45 = 0 " +
      s"UNION ALL SELECT doc_id + 3000000, doc_id, $off, 'b' FROM documents " +
      "WHERE doc_id % 9 = 0 AND doc_id % 5 >= 3)"

  /** The side-tagged shared tail: ib2(doc_id, side, i, bit) → 16-bit
    * bands → batch-vs-corpus pigeonhole candidates → hamming-verified
    * near set (`corpusStatus`) → banded strict pairs `p` over the
    * still-admitted batch rows — the SQL twin of [[admitMediaCompare]] +
    * [[admitMediaStrictLosers]].
    */
  private def admitTailSql(corpusStatus: String): String =
    "bnd AS (SELECT doc_id, side, i // 16 AS j, CAST(sum(bit << (i % 16)) AS BIGINT) AS bv " +
      "FROM ib2 GROUP BY 1, 2, 3), " +
      "candi AS (SELECT DISTINCT b.doc_id, c.doc_id AS cv_id FROM bnd b " +
      "JOIN bnd c ON c.j = b.j AND c.bv = b.bv AND b.side = 'b' AND c.side = 'c'), " +
      "hmi AS (SELECT ca.doc_id, ca.cv_id, sum(bit_count(xor(xb.bv, yb.bv))) AS hd " +
      "FROM candi ca JOIN bnd xb ON xb.doc_id = ca.doc_id AND xb.side = 'b' " +
      "JOIN bnd yb ON yb.doc_id = ca.cv_id AND yb.side = 'c' AND yb.j = xb.j " +
      s"GROUP BY 1, 2), " +
      s"neari AS (SELECT DISTINCT doc_id FROM hmi WHERE hd <= $MaxHamming), " +
      "st0 AS (SELECT s.doc_id, CASE WHEN neari.doc_id IS NOT NULL " +
      s"THEN '$corpusStatus' ELSE 'admitted' END AS status " +
      "FROM src2 s LEFT JOIN neari ON neari.doc_id = s.doc_id WHERE s.side = 'b'), " +
      "admb AS (SELECT bnd.doc_id, bnd.j, bnd.bv FROM bnd " +
      "JOIN st0 ON st0.doc_id = bnd.doc_id AND st0.status = 'admitted' " +
      "WHERE bnd.side = 'b'), " +
      "candp AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb FROM admb a " +
      "JOIN admb b ON b.j = a.j AND b.bv = a.bv AND a.doc_id < b.doc_id), " +
      "hmp AS (SELECT c.pa, c.pb, sum(bit_count(xor(xb.bv, yb.bv))) AS hd FROM candp c " +
      "JOIN admb xb ON xb.doc_id = c.pa " +
      "JOIN admb yb ON yb.doc_id = c.pb AND yb.j = xb.j GROUP BY 1, 2), " +
      s"p AS (SELECT pa, pb FROM hmp WHERE hd <= $MaxHamming)"

  /** Recursive-CTE CC over the strict pairs `p` + the final admit status
    * fold: still-admitted cluster losers re-status `batchStatus`, then the
    * x74 report shape (status, n_docs, checksum).
    */
  private def admitStatusSql(batchStatus: String): String =
    "ed AS (SELECT pa AS s, pb AS t FROM p UNION SELECT pb, pa FROM p), " +
      "reach AS (SELECT s AS id, s AS comp FROM ed " +
      "UNION SELECT ed.s AS id, r.comp FROM ed JOIN reach r ON ed.t = r.id), " +
      "cmp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
      "st AS (SELECT st0.doc_id, CASE WHEN st0.status = 'admitted' AND " +
      "cmp.component IS NOT NULL AND cmp.component <> st0.doc_id " +
      s"THEN '$batchStatus' ELSE st0.status END AS status " +
      "FROM st0 LEFT JOIN cmp ON cmp.id = st0.doc_id) " +
      "SELECT status, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(bit_xor(doc_id) AS BIGINT) AS checksum " +
      "FROM st GROUP BY status ORDER BY status"

  /** Recursive-CTE connected components over `p` (the x74_admit_strict
    * closure technique) + min-id statuses.
    */
  private def statusSql(dupStatus: String): String =
    "ed AS (SELECT pa AS s, pb AS t FROM p UNION SELECT pb, pa FROM p), " +
      "reach AS (SELECT s AS id, s AS comp FROM ed " +
      "UNION SELECT ed.s AS id, r.comp FROM ed JOIN reach r ON ed.t = r.id), " +
      "cmp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
      "st AS (SELECT dk.doc_id, CASE WHEN cmp.component IS NULL THEN 'unique' " +
      s"WHEN cmp.component = dk.doc_id THEN 'survivor' ELSE '$dupStatus' END AS status " +
      "FROM dk LEFT JOIN cmp ON cmp.id = dk.doc_id) " +
      "SELECT status, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(bit_xor(doc_id) AS BIGINT) AS checksum FROM st GROUP BY status ORDER BY status"

  /** Registered-query media fixtures route through the battery sidecar
    * ([[FixtureSidecar]] — a no-op outside [[graft.Bench]]): at sf0.1 the
    * per-frame/per-tile md5 synthesis dominated several timed medians
    * (x148 ~15 s mostly fixture cost), and a bench median should price
    * the read + engine, the work a real corpus run pays.
    */
  private def sidecar(s: SparkSession, name: String, dir: String)(
      b: => DataFrame): DataFrame =
    FixtureSidecar(s, s"${name}_${FixtureSidecar.dirTag(dir)}")(b)

  /** Shared body of the four x74 CONTAINMENT-admission legs (vtrim /
    * icrop / atrim / vcrop) and their `_steady` twins: the admit
    * population split (corpus %9≠0; batch = fresh %9==0 + `off`-edited
    * re-arrivals at +2000000 for %45==0 and +3000000 for %9==0 & v≥3),
    * synthesized by the leg's `synth`, shingled by the leg's producer,
    * then compare → doc-level fold → strict keep-best → the x74 report
    * shape. `steady = true` additionally routes the CORPUS SHINGLE
    * STATE itself through the battery fixture sidecar (r15 VERDICT ask
    * #3): in the bench the state materializes ONCE per battery in the
    * untimed pass and every timed run prices state-read + batch decode +
    * compare + strict — the cost a DEPLOYED admission run pays per
    * batch (ScaleSmoke's `x74_admit_*_steady` shape, now in the timed
    * battery) — while the composite form keeps timing the full
    * bootstrap+compare chain. Outside the battery the sidecar is
    * identity, so both forms compute the identical frame and share one
    * oracle.
    */
  private def admitContainLegQuery(
      s: SparkSession,
      dir: String,
      key: String,
      synth: DataFrame => DataFrame,
      shingle: DataFrame => DataFrame,
      editOff: Int,
      corpusStatus: String,
      batchStatus: String,
      steady: Boolean): DataFrame = {
    val ids = table(s, dir, "documents").select("doc_id")
    val corpusSrc = ids.filter(col("doc_id") % 9 =!= 0)
      .select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("off"))
    val batchSrc = ids.filter(col("doc_id") % 9 === 0)
      .select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("off"))
      .unionByName(ids.filter(col("doc_id") % 45 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(editOff).as("off")))
      .unionByName(ids.filter(col("doc_id") % 9 === 0 && col("doc_id") % 5 >= 3)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(editOff).as("off")))
    val corpusSh =
      if (steady)
        // the state parquet carries real statistics, so the compare's
        // broadcast decision sees true sizes; referenced once — no cut
        sidecar(s, s"${key}_state", dir)(
          shingle(sidecar(s, s"${key}_corpus", dir)(synth(corpusSrc))))
      else
        DedupClusters.ckpt(
          shingle(sidecar(s, s"${key}_corpus", dir)(synth(corpusSrc))))
    val batchSh = DedupClusters.ckpt(
      shingle(sidecar(s, s"${key}_batch", dir)(synth(batchSrc))))
    // doc-level fold, NOT a raw filter on the per-space frame (the
    // admitTrimDocVerdicts trap note) — these fixtures are single-space
    // today, but the pattern must survive a multi-space leg. Only the
    // FOLD is materialized (the rcrop-leg rule): the per-space frame has
    // exactly one consumer chain, and both downstream reads (the admitted
    // set and the final report) are doc-level.
    val frame = DedupClusters.ckpt(
      admitTrimDocVerdicts(admitTrimCompare(corpusSh, batchSh)))
    // `adm` and `losers` are doc-level and batch-bounded (≤ the admission
    // batch's doc count — the BroadcastBatchShingleRows contract), but
    // they derive from checkpointed frames whose LogicalRDD statistics
    // read as unknown-large, so the planner sort-merge-joined a few
    // hundred rows (2 exchanges + 2 sorts each). Broadcast explicitly.
    val adm = broadcast(frame.filter(!col("near_trim")).select("doc_id"))
    val losers = broadcast(
      admitTrimStrictLosers(batchSh.join(adm, "doc_id"))
        .select("doc_id").withColumn("lb", lit(true)))
    frame.join(losers, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("near_trim"), corpusStatus)
          .when(coalesce(col("lb"), lit(false)), batchStatus)
          .otherwise("admitted").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
      .orderBy("status")
  }

  /** The vtrim admission leg ([[admitContainLegQuery]]): `off` = trim
    * start — re-arrivals are frames off..64 of the original's closed
    * form, shingled as frame bigrams.
    */
  private def admitVtrimLeg(s: SparkSession, dir: String, steady: Boolean): DataFrame = {
    import s.implicits._
    admitContainLegQuery(
      s, dir, "x74vtrim",
      src => src.as[(Long, Long, Int)]
        .mapPartitions(_.map { case (id, img, off) =>
          val levels =
            Array.tabulate(VideoWindows - off)(f => fixtureFrameVid(img, f + off))
          (id, makeAvi(4, 4, VideoWindows - off, (f, _, _) => levels(f)))
        })
        .toDF("doc_id", "payload"),
      videoFrameShingles(_), 10,
      "near_dup_corpus_vtrim", "near_dup_batch_vtrim", steady)
  }

  /** The icrop admission leg: `off` = tile offset — re-arrivals replay
    * the original's 6x5 tile grid cropped to (1..5, 1..4), shingled as
    * diagonal tile neighborhoods through the modality-detected scan.
    */
  private def admitIcropLeg(s: SparkSession, dir: String, steady: Boolean): DataFrame = {
    import s.implicits._
    admitContainLegQuery(
      s, dir, "x74icrop",
      src => src.as[(Long, Long, Int)]
        .mapPartitions(_.map { case (id, img, off) =>
          val tw = CropTilesX - off
          val th = CropTilesY - off
          val levels =
            Array.tabulate(tw, th)((i, j) => fixtureTileLvl(img, i + off, j + off))
          (id, makeBmp(tw * TileSize, th * TileSize,
            (x, y) => levels(x / TileSize)(y / TileSize)))
        })
        .toDF("doc_id", "payload"),
      mediaShingles(_), 1,
      "near_dup_corpus_icrop", "near_dup_batch_icrop", steady)
  }

  /** The atrim admission leg: `off` = dropped leading utterances
    * ([[UttDrop]]) — re-arrivals are pause-cut excerpts, shingled as
    * utterance bigrams through the modality-detected scan.
    */
  private def admitAtrimLeg(s: SparkSession, dir: String, steady: Boolean): DataFrame = {
    import s.implicits._
    admitContainLegQuery(
      s, dir, "x74atrim",
      src => src.as[(Long, Long, Int)]
        .mapPartitions(_.map { case (id, img, off) => (id, fixtureWavUtt(img, off)) })
        .toDF("doc_id", "payload"),
      mediaShingles(_), UttDrop,
      "near_dup_corpus_atrim", "near_dup_batch_atrim", steady)
  }

  /** The vcrop admission leg: `off` = spatial tile offset applied to
    * EVERY frame — re-arrivals are tile-aligned spatial crops, shingled
    * as cross-frame distinct tile neighborhoods in the vsp space.
    */
  private def admitVcropLeg(s: SparkSession, dir: String, steady: Boolean): DataFrame = {
    import s.implicits._
    admitContainLegQuery(
      s, dir, "x74vcrop",
      src => src.as[(Long, Long, Int)]
        .mapPartitions(_.map { case (id, img, off) => (id, fixtureAviTiles(img, off)) })
        .toDF("doc_id", "payload"),
      m => videoFrameTileShingles(m).withColumn("mod", lit("vsp")), 1,
      "near_dup_corpus_vcrop", "near_dup_batch_vcrop", steady)
  }

  /** The rcrop admission leg — not routed through [[admitContainLegQuery]]
    * because its spaces are ASYMMETRIC (state carries SCALED fingerprints
    * under rs2/rs4; the batch compares NATIVE img fingerprints re-tagged
    * per space). `steady = true` routes the corpus rs shingle STATE
    * through the battery fixture sidecar exactly like the other four
    * legs' steady twins: the timed median prices state-read + batch
    * decode + compare + strict; identity outside the battery, so both
    * forms compute the identical frame and share one oracle.
    */
  private def admitRcropLeg(s: SparkSession, dir: String, steady: Boolean): DataFrame = {
    import s.implicits._
    val ids = table(s, dir, "documents").select("doc_id")
    val corpusSrc = ids.filter(col("doc_id") % 9 =!= 0)
      .select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("kind"))
    val batchSrc = ids.filter(col("doc_id") % 9 === 0)
      .select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("kind"))
      .unionByName(ids.filter(col("doc_id") % 45 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(2).as("kind")))
      .unionByName(ids.filter(col("doc_id") % 9 === 0 && col("doc_id") % 5 >= 3)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          col("doc_id").as("img_id"), lit(2).as("kind")))
    def synth(src: DataFrame) = src.as[(Long, Long, Int)]
      .mapPartitions(_.map { case (id, img, kind) => (id, fixtureRcropBmpCk(img, kind)) })
      .toDF("doc_id", "payload")
    val corpusState =
      mediaShingles(sidecar(s, "x74rcrop_corpus", dir)(synth(corpusSrc)),
        rscales = RescaleSet)
        .filter(col("mod").startsWith("rs"))
    val corpusSh =
      if (steady) sidecar(s, "x74rcrop_state", dir)(corpusState)
      else DedupClusters.ckpt(corpusState)
    val batchSh = DedupClusters.ckpt(
      mediaShingles(sidecar(s, "x74rcrop_batch", dir)(synth(batchSrc)),
        rscales = RescaleSet))
    // the Cli compare-feed assembly: batch NATIVE img fingerprints
    // re-tagged into each rescale space (the RescaleSpace asymmetry).
    // ONE branch with a per-row explode over the space tags, not a union
    // of per-space filtered branches: the union's N branches each read
    // the lazily-checkpointed batchSh, and on the FIRST action they race
    // the same unmaterialized blocks — the batch decode ran twice per
    // timed run (two ~16 s-summed decode stages in the r17 profile).
    // Same row multiset (each img row once per space), order-insensitive
    // consumers only.
    val batchCompare = batchSh.filter(col("mod") === "img")
      .withColumn("mod", explode(array(RescaleSpaces.map(sp => lit(sp.space)): _*)))
    // the frame is genuinely multi-space here (rs2 + rs4 rows per doc)
    // — the doc-level fold is load-bearing, not defensive. Only the FOLD
    // is materialized: the per-space frame has exactly one consumer
    // (this fold), so checkpointing both would pay a full extra
    // materialization cycle for nothing.
    val docs = DedupClusters.ckpt(
      admitTrimDocVerdicts(admitTrimCompare(corpusSh, batchCompare)))
    // doc-level batch-bounded frames behind checkpoints: broadcast (the
    // admitContainLegQuery rationale)
    val adm = broadcast(docs.filter(!col("near_trim")).select("doc_id"))
    val losers = broadcast(
      admitTrimStrictLosers(batchSh.join(adm, "doc_id"))
        .select("doc_id").distinct().withColumn("lb", lit(true)))
    docs.join(losers, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("near_trim"), RcropCorpusStatus)
          .when(coalesce(col("lb"), lit(false)), RcropStrictStatus)
          .otherwise("admitted").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
      .orderBy("status")
  }

  // ---------------------------------------------------------------------
  // registered queries
  // ---------------------------------------------------------------------

  val queries: Seq[Q] = Seq(
    // ----- x139: image perceptual near-dup (dHash + banded LSH + CC) -----
    Q(
      "x139_image_dhash",
      Some(
        "WITH RECURSIVE src AS (SELECT doc_id, doc_id AS img_id FROM documents), " +
          s"$imagePairsSql, ${statusSql("near_dup_image")}"),
      "IMAGE near-dup dedup — the dedup family's missing modality: per doc a REAL 9x8 " +
        "24-bit BMP is synthesized closed-form, decoded through javax.imageio " +
        "(decodeBlockLumaE3, oversize-hardened), dHashed (64 comparison bits, exact " +
        "integer luma), banded 4x16 bits, pigeonhole-joined, hamming<=3 verified, and " +
        "min-id CC'd into survivor/near_dup_image/unique — so the oracle (which " +
        "recomputes the hash from the same closed form) pins the whole encode -> decode " +
        "-> downsample -> hash -> band -> CC chain, not just the SQL tail. Fixture: " +
        "5-doc clusters, variants = base / +16 brightness (hash-INVARIANT by " +
        "construction — the edit byte hashing cannot see) / one-cell bump (<=2 bits) / " +
        "2 distinct. Scale: the x04 candidate shape on 16-byte keys; past ~1e6 docs " +
        "16-bit bands saturate (n^2/32768 candidate mass) — swap to dhashBandsWide's " +
        "256-bit/32-bit-band form (spec-pinned, ScaleSmoke-measured)."
    ) { (s, dir) =>
      fixtureImageStatuses(s, table(s, dir, "documents"),
        sidecarName = Some(("x139", dir)))
    },

    // ----- x140: audio perceptual near-dup (frame-sum dHash) -----
    Q(
      "x140_audio_dhash",
      Some(
        "WITH RECURSIVE src AS (SELECT doc_id, doc_id AS img_id FROM documents), " +
          s"$audioPairsSql, ${statusSql("near_dup_audio")}"),
      "AUDIO near-dup dedup — the x139 rule one modality over, REUSING the band/" +
        "pigeonhole/CC machinery on a different real decoder: per doc a REAL 8-bit PCM " +
        "WAV (520 samples, frame-constant levels) is synthesized closed-form, frame " +
        "sums decoded through the hardened RIFF walk (decodeWavFrameSums — exact " +
        "integers, claimed sizes clamped), 64 adjacent-frame comparisons banded 4x16. " +
        "A +10 GAIN shifts every frame sum equally, so the gain variant is " +
        "hash-invariant by construction — the re-gained re-encode byte hashing cannot " +
        "see; a one-frame bump flips <=2 bits. Single-alignment convention (time-shift " +
        "robustness is Shazam-style fingerprinting, a different operator). Oracle " +
        "recomputes the hash from the closed form: encode -> RIFF walk -> frame sums " +
        "-> hash -> band -> CC, all pinned."
    ) { (s, dir) =>
      statusFrame(
        hashedFixture(s, table(s, dir, "documents"), fixtureWav, audioDhashBands,
          Some(("x140", dir))),
        "near_dup_audio")
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
        .orderBy("status")
    },

    // ----- x141: cross-modal dup agreement (image signal x text signal) -----
    Q(
      "x141_crossmodal_dedup",
      Some(
        "WITH src AS (SELECT doc_id, doc_id AS img_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 2000000, doc_id + 2000000, text FROM documents " +
          "WHERE doc_id % 10 = 0 " +
          "UNION ALL SELECT doc_id + 4000000, doc_id, text FROM documents " +
          "WHERE doc_id % 20 = 0), " +
          s"$imagePairsSql, " +
          "idup AS (SELECT DISTINCT pa AS doc_id FROM p UNION SELECT pb FROM p), " +
          s"t AS (SELECT doc_id, ${XHash.h60Sql(Dedup.normSql)} AS tkey FROM src), " +
          "tg AS (SELECT tkey, count(*) AS n FROM t GROUP BY 1), " +
          "st AS (SELECT t.doc_id, idup.doc_id IS NOT NULL AS img_dup, tg.n > 1 AS txt_dup " +
          "FROM t JOIN tg USING (tkey) LEFT JOIN idup ON idup.doc_id = t.doc_id) " +
          "SELECT img_dup, txt_dup, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(bit_xor(doc_id) AS BIGINT) AS checksum FROM st GROUP BY 1, 2 ORDER BY 1, 2"),
      "CROSS-MODAL dup agreement — the caption-variation audit an image-text corpus " +
        "needs before training (LAION-style pipelines dedup per modality, then ask " +
        "where the signals DISAGREE): contingency of x139's image near-dup " +
        "participation against x01's normalized-text exact key, per doc. img_dup AND " +
        "txt_dup = true re-post; img_dup only = same image under different captions " +
        "(keep-best candidates, not drop-all); txt_dup only = same boilerplate caption " +
        "on different images (do NOT text-dedup these away — the images carry the " +
        "signal). The driver fixture has no text dups of its own, so both engines add " +
        "the x47 mirror augmentation: every 10th doc re-posts its caption with a NEW " +
        "image, every 20th re-posts caption AND image — all four cells carry data. " +
        "Composition is two keyed joins over already-computed frames; no new shuffle " +
        "shape."
    ) { (s, dir) =>
      val src = crossmodalSrc(table(s, dir, "documents"))
      val pairs = bandNearDupPairs(
        DedupClusters.ckpt(hashedFixture(s, src, fixtureBmp, p => dhashBands(p),
          Some(("x141img", dir)))))
      val idup = pairs.select(col("a").as("doc_id"))
        .union(pairs.select(col("b").as("doc_id")))
        .distinct()
        .withColumn("i", lit(true))
      val tkey = src.select(col("doc_id"), XHash.h60(Dedup.normText(col("text"))).as("tkey"))
      val tdup = tkey.join(
        tkey.groupBy("tkey").agg(count(lit(1)).as("n")), "tkey")
      tdup
        .join(idup, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("i"), lit(false)).as("img_dup"),
          (col("n") > 1).as("txt_dup"))
        .groupBy("img_dup", "txt_dup")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
        .orderBy("img_dup", "txt_dup")
    },

    // ----- x141 audio form: cross-modal dup agreement (audio signal x text signal) -----
    Q(
      "x141_crossmodal_aud",
      Some(
        "WITH src AS (SELECT doc_id, doc_id AS img_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 2000000, doc_id + 2000000, text FROM documents " +
          "WHERE doc_id % 10 = 0 " +
          "UNION ALL SELECT doc_id + 4000000, doc_id, text FROM documents " +
          "WHERE doc_id % 20 = 0), " +
          s"$audioPairsSql, " +
          "adup AS (SELECT DISTINCT pa AS doc_id FROM p UNION SELECT pb FROM p), " +
          s"t AS (SELECT doc_id, ${XHash.h60Sql(Dedup.normSql)} AS tkey FROM src), " +
          "tg AS (SELECT tkey, count(*) AS n FROM t GROUP BY 1), " +
          "st AS (SELECT t.doc_id, adup.doc_id IS NOT NULL AS aud_dup, tg.n > 1 AS txt_dup " +
          "FROM t JOIN tg USING (tkey) LEFT JOIN adup ON adup.doc_id = t.doc_id) " +
          "SELECT aud_dup, txt_dup, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(bit_xor(doc_id) AS BIGINT) AS checksum FROM st GROUP BY 1, 2 ORDER BY 1, 2"),
      "CROSS-MODAL dup agreement, AUDIO form — the x141 caption-variation audit for " +
        "podcast/clip-text corpora (same question, other modality): contingency of " +
        "x140's audio near-dup participation against x01's normalized-text exact key, " +
        "per doc. aud_dup AND txt_dup = true re-post; aud_dup only = same clip under " +
        "different transcripts/captions (keep-best candidates); txt_dup only = " +
        "boilerplate caption on different clips (do NOT text-dedup these away). Same " +
        "mirror augmentation as the image form — every 10th doc re-posts its caption " +
        "with a NEW clip, every 20th re-posts caption AND clip — so all four cells " +
        "carry data; the pair machinery is audioNearDupPairs', byte-for-byte the " +
        "image query's banded join one decoder over. Composition: two keyed joins " +
        "over already-computed frames, no new shuffle shape."
    ) { (s, dir) =>
      val src = crossmodalSrc(table(s, dir, "documents"))
      val pairs = bandNearDupPairs(
        DedupClusters.ckpt(hashedFixture(s, src, fixtureWav, audioDhashBands,
          Some(("x141aud", dir)))))
      val adup = pairs.select(col("a").as("doc_id"))
        .union(pairs.select(col("b").as("doc_id")))
        .distinct()
        .withColumn("i", lit(true))
      val tkey = src.select(col("doc_id"), XHash.h60(Dedup.normText(col("text"))).as("tkey"))
      val tdup = tkey.join(
        tkey.groupBy("tkey").agg(count(lit(1)).as("n")), "tkey")
      tdup
        .join(adup, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("i"), lit(false)).as("aud_dup"),
          (col("n") > 1).as("txt_dup"))
        .groupBy("aud_dup", "txt_dup")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
        .orderBy("aud_dup", "txt_dup")
    },

    // ----- x141 video form: cross-modal dup agreement (video signal x text signal) -----
    Q(
      "x141_crossmodal_vid",
      Some(
        "WITH src AS (SELECT doc_id, doc_id AS img_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 2000000, doc_id + 2000000, text FROM documents " +
          "WHERE doc_id % 10 = 0 " +
          "UNION ALL SELECT doc_id + 4000000, doc_id, text FROM documents " +
          "WHERE doc_id % 20 = 0), " +
          s"$videoPairsSql, " +
          "vdup AS (SELECT DISTINCT pa AS doc_id FROM p UNION SELECT pb FROM p), " +
          s"t AS (SELECT doc_id, ${XHash.h60Sql(Dedup.normSql)} AS tkey FROM src), " +
          "tg AS (SELECT tkey, count(*) AS n FROM t GROUP BY 1), " +
          "st AS (SELECT t.doc_id, vdup.doc_id IS NOT NULL AS vid_dup, tg.n > 1 AS txt_dup " +
          "FROM t JOIN tg USING (tkey) LEFT JOIN vdup ON vdup.doc_id = t.doc_id) " +
          "SELECT vid_dup, txt_dup, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(bit_xor(doc_id) AS BIGINT) AS checksum FROM st GROUP BY 1, 2 ORDER BY 1, 2"),
      "CROSS-MODAL dup agreement, VIDEO form — the x141 caption-variation audit for " +
        "clip-text corpora, completing the triad: contingency of x145's video " +
        "near-dup participation against x01's normalized-text exact key, per doc. " +
        "vid_dup AND txt_dup = true re-post; vid_dup only = same clip under " +
        "different captions (keep-best candidates); txt_dup only = boilerplate " +
        "caption on different clips (do NOT text-dedup these away). Same mirror " +
        "augmentation as the image/audio forms — every 10th doc re-posts its caption " +
        "with a NEW clip, every 20th re-posts caption AND clip — so all four cells " +
        "carry data; the pair machinery is videoNearDupPairs', byte-for-byte the " +
        "audio query's banded join one decoder over. Composition: two keyed joins " +
        "over already-computed frames, no new shuffle shape."
    ) { (s, dir) =>
      val src = crossmodalSrc(table(s, dir, "documents"))
      val pairs = bandNearDupPairs(
        DedupClusters.ckpt(hashedFixture(s, src, fixtureAvi, videoDhashBands,
          Some(("x141vid", dir)))))
      val vdup = pairs.select(col("a").as("doc_id"))
        .union(pairs.select(col("b").as("doc_id")))
        .distinct()
        .withColumn("i", lit(true))
      val tkey = src.select(col("doc_id"), XHash.h60(Dedup.normText(col("text"))).as("tkey"))
      val tdup = tkey.join(
        tkey.groupBy("tkey").agg(count(lit(1)).as("n")), "tkey")
      tdup
        .join(vdup, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("i"), lit(false)).as("vid_dup"),
          (col("n") > 1).as("txt_dup"))
        .groupBy("vid_dup", "txt_dup")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
        .orderBy("vid_dup", "txt_dup")
    },

    // ----- x142: resolution-invariant image dedup, keep-BEST survivor -----
    Q(
      "x142_image_keepbest",
      Some(
        "WITH RECURSIVE src AS (SELECT doc_id, doc_id AS img_id, 72 AS px FROM documents " +
          "UNION ALL SELECT doc_id + 2000000, doc_id, 288 FROM documents " +
          "WHERE doc_id % 10 = 0), " +
          s"$imagePairsSql, " +
          "ed AS (SELECT pa AS s, pb AS t FROM p UNION SELECT pb, pa FROM p), " +
          "reach AS (SELECT s AS id, s AS comp FROM ed " +
          "UNION SELECT ed.s AS id, r.comp FROM ed JOIN reach r ON ed.t = r.id), " +
          "cmp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "rk AS (SELECT s.doc_id, ROW_NUMBER() OVER (PARTITION BY cmp.component " +
          "ORDER BY s.px DESC, s.doc_id) AS rn FROM src s JOIN cmp ON cmp.id = s.doc_id), " +
          "st AS (SELECT s.doc_id, CASE WHEN rk.rn IS NULL THEN 'unique' " +
          "WHEN rk.rn = 1 THEN 'survivor' ELSE 'near_dup_resized' END AS status " +
          "FROM src s LEFT JOIN rk ON rk.doc_id = s.doc_id) " +
          "SELECT status, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(bit_xor(doc_id) AS BIGINT) AS checksum " +
          "FROM st GROUP BY status ORDER BY status"),
      "RESOLUTION-invariant image dedup with keep-BEST survivor — the LAION rule " +
        "(of N copies of an image at different sizes, keep the LARGEST; min-id " +
        "keep-one throws away the best training signal): the dHash's cross-multiplied " +
        "box downsample (sumA*cntB > sumB*cntA) cancels integer scaling exactly, so a " +
        "2x re-encode hashes IDENTICALLY through the real javax.imageio decode — no " +
        "float drift, hamming 0 BY CONSTRUCTION, which is what the oracle pins " +
        "(fixture: every 10th doc re-posts its image at 18x16; both sizes render the " +
        "same closed-form gray, both go through the real encode -> decode -> " +
        "downsample path). Pairs -> CC -> rank per component by pixel count DESC " +
        "(doc_id tiebreak): the scaled re-post WINS over its 9x8 original; statuses " +
        "survivor / near_dup_resized / unique. The query computes the full status " +
        "frame directly with the SAME survivor ordering (score DESC, doc_id) as " +
        "DedupClusters.dedupByPairsKeepBest — the library route for users who want " +
        "the deduped docs rather than statuses (imageNearDupPairs + " +
        "dedupByPairsKeepBest(score = pixel count), the x95 machinery on the " +
        "perceptual pair graph; `Cli corpus --pdedup` ships exactly that rule with " +
        "payload size as the free score). Scale: identical shape to x139 " +
        "(band-keyed joins) + one per-component window over cluster members only."
    ) { (s, dir) =>
      import s.implicits._
      val ids = table(s, dir, "documents").select("doc_id")
      val src = ids
        .select(col("doc_id"), col("doc_id").as("img_id"), lit(false).as("big"))
        .unionByName(ids.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            col("doc_id").as("img_id"), lit(true).as("big")))
      val hashed = src.as[(Long, Long, Boolean)].mapPartitions(_.map {
        case (id, img, big) =>
          val b = dhashBands(if (big) fixtureBmp2x(img) else fixtureBmp(img))
            .getOrElse(throw new IllegalStateException(
              s"fixture payload for doc $id failed to decode"))
          (id, if (big) 288L else 72L, b)
      }).toDF("doc_id", "px", "bands")
      val hf = DedupClusters.ckpt(hashed)
      val comp = DedupClusters.connectedComponents(
        bandNearDupPairs(hf.select("doc_id", "bands")))
      val clustered = hf.join(comp, hf("doc_id") === comp("id"), "left")
        .select(hf("doc_id"), col("px"), col("component"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("component").orderBy(col("px").desc, col("doc_id"))
      val ranked = clustered.filter(col("component").isNotNull)
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"),
          when(col("rn") === 1, "survivor").otherwise("near_dup_resized").as("status"))
      clustered.filter(col("component").isNull)
        .select(col("doc_id"), lit("unique").as("status"))
        .unionByName(ranked)
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
        .orderBy("status")
    },

    // ----- x74 media leg: perceptual admission (`Cli admit --pmedia`) -----
    Q(
      "x74_admit_img",
      Some(
        s"WITH RECURSIVE $admitImgSql, ${admitStatusSql("near_dup_batch_img")}"),
      "MEDIA leg of ADMISSION — x74's four-status rule carrying the perceptual signal " +
        "(`Cli admit --pmedia/--bmedia/--psigs`): batch images hashed (real BMP decode, " +
        "x139's dHash), compared banded-pigeonhole against the corpus bands state " +
        "(admitMediaCompare — corpus payloads never re-decoded once the state exists), " +
        "hamming<=3 neighbors flag near_dup_corpus_img; the strict pass runs the banded " +
        "CC over the still-admitted batch bands (admitMediaStrictLosers), so two " +
        "re-encodes of the same image arriving TOGETHER keep one survivor " +
        "(near_dup_batch_img) — the text-strict asymmetry two signal levels down. " +
        "Fixture: corpus = docs %9!=0 (own image); batch = %9==0 (own) + two re-arrival " +
        "populations carrying the ORIGINAL's image brightened +16 (hash-invariant): " +
        "%45==0 (v=0, siblings in corpus -> near_dup_corpus_img) and %9==0 & v>=3 " +
        "(content unique to the batch -> only the strict CC can catch the pair). " +
        "Scale: band-keyed joins, batch-sized everywhere; corpus side is the persisted " +
        "bands state."
    ) { (s, dir) =>
      admitFixtureStatuses(
        s, table(s, dir, "documents").select("doc_id"), 16,
        fixtureBmpShift, p => dhashBands(p),
        "near_dup_corpus_img", "near_dup_batch_img",
        sidecarName = Some(("x74img", dir)))
    },

    // ----- x74 audio leg: perceptual admission (`Cli admit --pmedia`, WAV batch rows) -----
    Q(
      "x74_admit_aud",
      Some(s"WITH RECURSIVE $admitAudSql, ${admitStatusSql("near_dup_batch_aud")}"),
      "AUDIO leg of media ADMISSION — the x74_admit_img rule one modality over, " +
        "REUSING the compare/strict/band machinery end to end: batch WAV payloads " +
        "hashed through the hardened RIFF walk (x140's frame-sum dHash), compared " +
        "banded-pigeonhole against the corpus bands state, hamming<=3 SAME-MODALITY " +
        "neighbors flag near_dup_corpus_aud; the strict pass CCs the still-admitted " +
        "batch bands (near_dup_batch_aud). Under `Cli admit --pmedia` one " +
        "modality-detected pass (mediaHashFrame: image decode first, RIFF fall-back) " +
        "hashes images AND clips into ONE state table, `mod` keeping the candidate " +
        "spaces disjoint — a re-gained re-post of corpus audio no longer sails " +
        "through an image-only leg. Fixture: the admit population split with a +10 " +
        "GAIN on re-arrivals (hash-invariant by construction — the edit byte hashing " +
        "cannot see); oracle recomputes frame sums from the closed form, so the green " +
        "row pins encode -> RIFF walk -> hash -> band -> compare -> strict CC. " +
        "Scale: identical to the image leg — band-keyed joins, batch-sized, corpus " +
        "audio never re-decoded once the bands state exists."
    ) { (s, dir) =>
      admitFixtureStatuses(
        s, table(s, dir, "documents").select("doc_id"), 10,
        fixtureWavShift, audioDhashBands,
        "near_dup_corpus_aud", "near_dup_batch_aud",
        sidecarName = Some(("x74aud", dir)))
    },

    // ----- x74 psigs compact: media-state reconciliation (`Cli admit --psigs --compact`) -----
    Q(
      "x74_psigs_compact",
      Some(
        "WITH src AS (SELECT doc_id, doc_id AS img_id FROM documents), " +
          s"$imageBitsSql, ${ibandsSql("ib")}, " +
          "pk AS (SELECT doc_id, " +
          "CAST(sum(CASE WHEN j = 0 THEN bv ELSE 0 END) AS BIGINT) AS b0, " +
          "CAST(sum(CASE WHEN j = 1 THEN bv ELSE 0 END) AS BIGINT) AS b1, " +
          "CAST(sum(CASE WHEN j = 2 THEN bv ELSE 0 END) AS BIGINT) AS b2, " +
          "CAST(sum(CASE WHEN j = 3 THEN bv ELSE 0 END) AS BIGINT) AS b3 " +
          "FROM ibands GROUP BY 1), " +
          "s0 AS (SELECT doc_id AS cv_id, b0, b1, b2, b3 FROM pk " +
          "UNION ALL SELECT doc_id, b0, b1, b2, b3 FROM pk WHERE doc_id % 7 = 0), " +
          "live AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0), " +
          "c AS (SELECT DISTINCT s0.cv_id, s0.b0, s0.b1, s0.b2, s0.b3 FROM s0 " +
          "JOIN live ON live.doc_id = s0.cv_id) " +
          "SELECT cv_id % 10 AS decile, CAST(count(*) AS BIGINT) AS n_imgs, " +
          "CAST(bit_xor(cv_id) AS BIGINT) AS id_xor, " +
          "CAST(bit_xor(b0) AS BIGINT) AS b0_xor, " +
          "CAST(bit_xor(b1) AS BIGINT) AS b1_xor, " +
          "CAST(bit_xor(b2) AS BIGINT) AS b2_xor, " +
          "CAST(bit_xor(b3) AS BIGINT) AS b3_xor " +
          "FROM c GROUP BY 1 ORDER BY 1"),
      "media-state COMPACTION (`Cli admit --psigs --compact`): the append-only bands " +
        "table drifts from the corpus exactly like the sig and emb sidecars — images of " +
        "docs removed by a re-filter leave STALE BANDS that keep voting " +
        "near_dup_corpus_img (a re-encode of deleted content is rejected against images " +
        "the corpus no longer has), and retried appends double rows. compactMediaBands " +
        "keeps one bands row per cv_id still in the live ID set: one left_semi on the " +
        "8-byte id + one keep-one shuffle, the exact compactSignatures/compactEmbAssign " +
        "shape — all THREE sidecar compactions now oracle-keyed. Fixture plants both " +
        "drift modes (double-append every 7th, remove every 5th); per-decile count + " +
        "id and per-band checksums pin the exact surviving membership AND band values " +
        "(the oracle recomputes every band from the closed-form pixels, so a compaction " +
        "that corrupted a band would hash-mismatch)."
    ) { (s, dir) =>
      val ids = table(s, dir, "documents").select("doc_id")
      val bands = fixtureBands(s, ids)
        .select(col("doc_id").as("cv_id"), col("bands"))
      compactMediaBands(
        bands.unionByName(bands.filter(col("cv_id") % 7 === 0)),
        ids.filter(col("doc_id") % 5 =!= 0).select(col("doc_id").as("vec_id")))
        .select(
          col("cv_id"),
          element_at(col("bands"), 1).as("b0"), element_at(col("bands"), 2).as("b1"),
          element_at(col("bands"), 3).as("b2"), element_at(col("bands"), 4).as("b3"))
        .groupBy((col("cv_id") % 10).as("decile"))
        .agg(
          count(lit(1)).as("n_imgs"),
          expr("bit_xor(cv_id)").as("id_xor"),
          expr("bit_xor(b0)").as("b0_xor"), expr("bit_xor(b1)").as("b1_xor"),
          expr("bit_xor(b2)").as("b2_xor"), expr("bit_xor(b3)").as("b3_xor"))
        .orderBy("decile")
    },

    // ----- x145: video perceptual near-dup (temporal dHash over a REAL AVI walk) -----
    Q(
      "x145_video_dhash",
      Some(
        "WITH RECURSIVE src AS (SELECT doc_id, doc_id AS img_id FROM documents), " +
          s"$videoPairsSql, ${statusSql("near_dup_video")}"),
      "VIDEO near-dup dedup — the modality triad's last leg, REUSING the band/" +
        "pigeonhole/CC machinery on a third real decoder: per doc a REAL AVI container " +
        "(RIFF 'hdrl'/'avih' + 'movi'/'00db' uncompressed 24-bit DIB frames) is " +
        "synthesized closed-form and decoded through the hardened AVI walk " +
        "(decodeAviFrameStats — claimed sizes clamped, oversize headers refused " +
        "pre-decode, truncated frames skipped), 65 frame-window luma sums -> 64 " +
        "adjacent comparisons -> 4x16-bit bands. The temporal envelope is invariant " +
        "to exactly the edits that defeat byte hashing: +10 BRIGHTNESS shifts every " +
        "window sum equally (the fixture's v=1 variant — hamming 0 BY CONSTRUCTION) " +
        "and a kx re-render scales every window by k^2 (spec-pinned via the 2x " +
        "fixture); a one-frame bump flips <=2 bits. Trimmed copies are out of scope " +
        "(shot-aligned video fingerprinting is a different operator). Oracle " +
        "recomputes the hash from the closed-form levels: encode -> AVI walk -> " +
        "window sums -> hash -> band -> CC, all pinned. Scale: the x139 candidate " +
        "shape — band-keyed joins, payloads decoded once."
    ) { (s, dir) =>
      statusFrame(
        hashedFixture(s, table(s, dir, "documents"), fixtureAvi, videoDhashBands,
          Some(("x145", dir))),
        "near_dup_video")
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
        .orderBy("status")
    },

    // ----- x74 video leg: perceptual admission (`Cli admit --pmedia`, AVI batch rows) -----
    Q(
      "x74_admit_vid",
      Some(s"WITH RECURSIVE $admitVidSql, ${admitStatusSql("near_dup_batch_vid")}"),
      "VIDEO leg of media ADMISSION — the x74_admit_img/_aud rule on the third " +
        "modality, REUSING the compare/strict/band machinery end to end: batch AVI " +
        "payloads hashed through the hardened AVI walk (x145's temporal dHash), " +
        "compared banded-pigeonhole against the corpus bands state, hamming<=3 " +
        "SAME-MODALITY neighbors flag near_dup_corpus_vid; the strict pass CCs the " +
        "still-admitted batch bands (near_dup_batch_vid). Under `Cli admit --pmedia` " +
        "ONE modality-detected pass (mediaHashFrame: image decode, RIFF/WAVE " +
        "fall-back, RIFF/AVI fall-back — fourccs disjoint by construction) hashes " +
        "images, clips AND videos into ONE state table, `mod` keeping the three " +
        "candidate spaces disjoint — a re-rendered re-post of corpus video no longer " +
        "sails through admission unflagged. Fixture: the admit population split with " +
        "a +10 BRIGHTNESS on re-arrivals (hash-invariant by construction); oracle " +
        "recomputes window sums from the closed form, pinning encode -> AVI walk -> " +
        "hash -> band -> compare -> strict CC. Scale: identical to the other legs — " +
        "band-keyed joins, batch-sized, corpus video never re-decoded once the bands " +
        "state exists."
    ) { (s, dir) =>
      admitFixtureStatuses(
        s, table(s, dir, "documents").select("doc_id"), 10,
        fixtureAviShift, videoDhashBands,
        "near_dup_corpus_vid", "near_dup_batch_vid",
        sidecarName = Some(("x74vid", dir)))
    },

    // ----- x147: video containment (trimmed-copy detection via frame bigrams) -----
    Q(
      "x147_video_containment",
      Some(
        s"WITH $x147BgSql, " +
          "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM bg a " +
          "JOIN bg b ON a.g1 = b.g1 AND a.g2 = b.g2 AND a.doc_id <> b.doc_id " +
          "GROUP BY 1, 2) " +
          "SELECT da AS doc_id_a, db AS doc_id_b, CAST(i AS BIGINT) AS n_inter, " +
          "CAST(sa.n AS BIGINT) AS n_a FROM inter JOIN sz sa ON sa.doc_id = da " +
          "WHERE 5 * i >= 4 * sa.n ORDER BY doc_id_a, doc_id_b"),
      "VIDEO containment — trimmed-copy detection, x25's directional rule on the frame " +
        "stream: distinct frame-BIGRAM fingerprints (adjacent (luma sum, sum-of-squares) " +
        "moment pairs — the k=2 shingle over frames as content units), |A∩B|/|A| >= 0.8 " +
        "integer-thresholded (5i >= 4*n_a, no float crosses the oracle). This is the " +
        "case x145's single-alignment temporal dHash declares OUT of scope: a re-cut/" +
        "excerpt keeps its frames bit-exact but shifts every hash window, so the " +
        "whole-clip hash misses it while the trim is contained at 1.0 in its source. " +
        "The two operators cover each other's blind spot (a trim that ALSO " +
        "re-brightens moves every fingerprint and needs the dHash signal); audio's " +
        "SAMPLE-grid containment form does not exist — WAV samples carry no intrinsic " +
        "framing, any trim re-bins every window — so its signal is utterance-anchored " +
        "instead (x153, documented on videoFrameShingles). Fixture: " +
        "every 15th doc re-posts frames 10..64 of its own video as a REAL 55-frame " +
        "AVI; both engines see the trim contained at 54/54 and the source at 54/64, " +
        "plus the one-frame-edit cluster variants at 62/64. Oracle recomputes the " +
        "closed-form levels, so the green row pins encode -> AVI walk -> frame " +
        "moments -> bigram -> containment. Scale: the join shuffles 32-byte " +
        "fingerprint keys, never payloads; real frame moments are near-unique (the " +
        "fixture's 181-level concentration is the worst case) — the x25 caveat " +
        "applies past that."
    ) { (s, dir) =>
      videoContainmentPairs(sidecar(s, "x147_media", dir)(
        x147FixtureMedia(table(s, dir, "documents").select("doc_id"))))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x147 scale twin: LSH-candidate containment (the benched production form) -----
    Q(
      "x147_containment_lsh",
      Some(s"WITH $x147BgSql, ${lshContainSql(16000L, 16000000L)}"),
      "The x147 SCALE path as the benched production default (the x88/x98 dual-key " +
        "pattern: the exact all-pairs form stays registered as the benchExcluded " +
        "exactness baseline, THIS is the plan a 100 TB run would use): MinHash-LSH " +
        "candidates over the frame-bigram shingle SETS — one md5 h60 per distinct " +
        "fingerprint, 16 affine hash-permutation minhashes banded 4-way, ONE keyed " +
        "join on (band, 60-bit key) — then the EXACT directional containment verify " +
        "on candidate pairs only, both orientations. Precision 1.0 by construction " +
        "(the verify is the exact rule); recall follows the Jaccard S-curve — the " +
        "common trim (J = 54/64) sits on the curve's high side and IS found at this " +
        "geometry (a fixed deterministic fact, spec-pinned), while a tiny excerpt in " +
        "long footage (J ~ |A|/|B|) is the documented limit needing the exact form. " +
        "The permutation coefficients are driver-derived literals inlined into BOTH " +
        "engines (the x07 hyperplane pattern), so the DuckDB oracle recomputes the " +
        "IDENTICAL candidate set: this green row pins encode -> AVI walk -> frame " +
        "moments -> bigrams -> minhash -> banding -> candidate join -> exact verify " +
        "cross-engine. Scale: candidate mass follows band collisions (near-linear to " +
        "533k videos in ScaleSmoke, 100x flat), never the fingerprint collision " +
        "rate's content-dependent quadratic tail; joins shuffle 16-byte band keys " +
        "and 32-byte fingerprints, never payloads."
    ) { (s, dir) =>
      videoContainmentPairsLsh(sidecar(s, "x147_media", dir)(
        x147FixtureMedia(table(s, dir, "documents").select("doc_id"))))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x152: image CROP containment (tile-shingle rule, exact baseline) -----
    Q(
      "x152_image_crop_containment",
      Some(
        s"WITH $x152BgSql, " +
          "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM bg a " +
          "JOIN bg b ON a.g1 = b.g1 AND a.g2 = b.g2 AND a.doc_id <> b.doc_id " +
          "GROUP BY 1, 2) " +
          "SELECT da AS doc_id_a, db AS doc_id_b, CAST(i AS BIGINT) AS n_inter, " +
          "CAST(sa.n AS BIGINT) AS n_a FROM inter JOIN sz sa ON sa.doc_id = da " +
          "WHERE 5 * i >= 4 * sa.n ORDER BY doc_id_a, doc_id_b"),
      "Image CROP containment — the x147 rule one modality over, closing the gap the " +
        "round-13 verdict named: a cropped re-post of a corpus image shifts every " +
        "dHash block boundary (classic AND wide), so before this operator it evaded " +
        "every perceptual signal silently. TILES are the content units frames play " +
        "for video: fixed 8-px origin-anchored tile moments through the real " +
        "javax.imageio decode (decodeImageTileStats — partial edge tiles dropped), " +
        "fingerprinted as DIAGONAL 2x2 neighborhoods (shinglesFromTiles — the " +
        "4-long fingerprint shape every containment consumer shares), x25's " +
        "directional rule |A-inter-B|/|A| >= 0.8 integer-thresholded. A TILE-ALIGNED " +
        "crop keeps every interior neighborhood bit-exact and is contained at 1.0 in " +
        "its source; HONEST LIMIT (the x142 integral-scale shape, spec-pinned from " +
        "the evasion side too): a crop at a non-multiple-of-8 offset moves every " +
        "tile boundary and shares nothing — tiles give pixels the COARSER framing " +
        "aligned crops respect (utterances play that role for audio - x153). Fixture: " +
        "6x5-tile closed-form BMPs; every 15th doc re-posts tiles (1..5, 1..4) as a " +
        "REAL 5x4-tile BMP — contained at 12/12, source at 12/20 stays below the " +
        "rule; the tile-(2,2) edit variant keeps 18/20 both ways. Oracle recomputes " +
        "the tile levels, pinning encode -> decode -> tile moments -> diagonal " +
        "shingle -> containment. EXACTNESS BASELINE: all-pairs fingerprint " +
        "self-join, benchExcluded like x147's exact form; the benched production " +
        "twin is x152_crop_containment_lsh."
    ) { (s, dir) =>
      imageCropContainmentPairs(sidecar(s, "x152_media", dir)(
        x152FixtureMedia(table(s, dir, "documents").select("doc_id"))))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x152 scale twin: LSH-candidate crop containment (benched) -----
    Q(
      "x152_crop_containment_lsh",
      Some(s"WITH $x152BgSql, ${lshContainSql(64000L, 64000000L)}"),
      "The image-crop SCALE path — containmentPairsLshFromShingles on the tile " +
        "shingles, sharing the x147 LSH engine verbatim: one md5 h60 per distinct " +
        "fingerprint, 16 affine hash-permutation minhashes (driver-derived literals " +
        "inlined into BOTH engines), 4-way banding, ONE keyed join on the 60-bit " +
        "band keys, exact directional verify on candidates only (precision 1.0 by " +
        "construction). The oracle recomputes the IDENTICAL candidate set from the " +
        "closed-form tile levels (s = 64000g, q = 64e6 g^2 for 8x8 uniform tiles), " +
        "so the green row pins the full cross-engine minhash -> band -> candidate -> " +
        "verify chain on the image modality. Recall follows the Jaccard S-curve: " +
        "the fixture's 12/20 crop sits mid-curve (found or not is a fixed " +
        "deterministic fact both engines agree on); a small crop of a large image " +
        "needs the exact form — the extreme-ratio limit, documented. Scale: " +
        "candidate mass follows band collisions, never the fingerprint collision " +
        "rate; joins shuffle 16-byte band keys and 32-byte fingerprints, never " +
        "payloads."
    ) { (s, dir) =>
      imageCropContainmentPairsLsh(sidecar(s, "x152_media", dir)(
        x152FixtureMedia(table(s, dir, "documents").select("doc_id"))))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x153: AUDIO containment (utterance-anchored excerpts, exact baseline) -----
    Q(
      "x153_audio_containment",
      Some(
        s"WITH $x153BgSql, " +
          "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM bg a " +
          "JOIN bg b ON a.g1 = b.g1 AND a.g2 = b.g2 AND a.doc_id <> b.doc_id " +
          "GROUP BY 1, 2) " +
          "SELECT da AS doc_id_a, db AS doc_id_b, CAST(i AS BIGINT) AS n_inter, " +
          "CAST(sa.n AS BIGINT) AS n_a FROM inter JOIN sz sa ON sa.doc_id = da " +
          "WHERE 5 * i >= 4 * sa.n ORDER BY doc_id_a, doc_id_b"),
      "AUDIO containment — the containment triad's third modality, closing the " +
        "'audio has no containment form' gap with the honest mechanism: samples " +
        "still carry no intrinsic framing (any sample-grid fingerprint moves with a " +
        "cut — that form remains impossible BY DESIGN), but x151's silence-gap " +
        "UTTERANCES are content-anchored framing. Fingerprints are per-utterance " +
        "voiced-core moments (decodeWavUtteranceStats: exact signed sum + sum of " +
        "squares from first to last voiced sample — leading/trailing sub-gap " +
        "silence EXCLUDED, so an excerpt cut anywhere INSIDE a separator keeps " +
        "every surviving fingerprint bit-exact), shingled as adjacent-utterance " +
        "bigrams, x25's directional rule at 0.8. Catches the podcast excerpt " +
        "re-cut at pauses that the gain-invariant whole-clip hash misses by " +
        "design; the two audio signals cover each other's blind spot (a re-gained " +
        "excerpt moves every moment and needs neither — documented). Fixture: " +
        "22-utterance closed-form WAVs (12 constant-level samples per utterance, " +
        "8-sample separators); every 15th doc re-posts utterances 7..21 cut FOUR " +
        "samples INTO the preceding separator — the mid-cut case the voiced-core " +
        "rule exists for — contained at 14/14 while the source stays 14/21 below " +
        "the rule (directional); the utterance-3 edit variant keeps 19/21 both " +
        "ways. Oracle recomputes the utterance levels, pinning encode -> RIFF " +
        "walk -> segmentation -> core moments -> bigram -> containment. EXACTNESS " +
        "BASELINE: all-pairs fingerprint self-join, benchExcluded like the x147/" +
        "x152 exact forms; the benched production twin is x153_utt_containment_lsh."
    ) { (s, dir) =>
      audioContainmentPairs(sidecar(s, "x153_media", dir)(
        x153FixtureMedia(table(s, dir, "documents").select("doc_id"))))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x153 scale twin: LSH-candidate audio containment (benched) -----
    Q(
      "x153_utt_containment_lsh",
      Some(s"WITH $x153BgSql, ${lshContainSql(UttLen.toLong, UttLen.toLong)}"),
      "The audio-containment SCALE path — the shared LSH engine on the utterance " +
        "bigram shingles: one md5 h60 per distinct fingerprint, 16 affine " +
        "hash-permutation minhashes (driver-derived literals inlined into BOTH " +
        "engines), 4-way banding, one keyed join on 60-bit band keys, exact " +
        "directional verify on candidates only (precision 1.0 by construction). " +
        "The oracle recomputes the IDENTICAL candidate set from the closed-form " +
        "utterance levels (s = 12g, q = 12g^2 for 12-sample constant-level " +
        "cores), pinning the full cross-engine chain on the third modality. " +
        "Recall follows the Jaccard S-curve (the fixture's 14/21 excerpt sits " +
        "mid-curve — found or not is a fixed deterministic fact both engines " +
        "agree on); extreme-ratio containment needs the exact form, documented. " +
        "Scale: candidate mass follows band collisions; joins shuffle 16-byte " +
        "band keys and 32-byte fingerprints, never payloads."
    ) { (s, dir) =>
      audioContainmentPairsLsh(sidecar(s, "x153_media", dir)(
        x153FixtureMedia(table(s, dir, "documents").select("doc_id"))))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x74 trim leg: re-cut video admission (`Cli admit --ptrim`) -----
    Q(
      "x74_admit_vtrim",
      Some(s"WITH RECURSIVE $admitVtrimSql"),
      "TRIM leg of media ADMISSION (`Cli admit --ptrim`) — the blind spot the band " +
        "leg leaves OPEN by design: a re-cut/excerpt of corpus video keeps its frames " +
        "bit-exact but shifts every hash window, so x74_admit_vid admits it. The " +
        "x147 containment rule as the admission signal: batch videos' distinct " +
        "frame-bigram shingles compared against the corpus shingle state " +
        "(admitTrimCompare — 32-byte fingerprint keys, corpus video never re-decoded " +
        "once the state exists), >= 0.8 containment flags near_dup_corpus_vtrim; the " +
        "strict pass runs undirected containment pairs + CC over the still-admitted " +
        "batch shingles and keeps the clip with the MOST shingles per component " +
        "(admitTrimStrictLosers — the LONGER clip is the source; min-id would keep " +
        "the excerpt and drop the footage), losers near_dup_batch_vtrim. Fixture: " +
        "the admit population split with off meaning TRIM START — re-arrivals are " +
        "frames 10..64 of the original's closed form; %45==0 trims have corpus " +
        "siblings (flagged corpus), %9==0 & v>=3 trims arrive WITH their source " +
        "(only the strict keep-best can order that pair). Oracle recomputes the " +
        "shingle sets from the closed form: encode -> AVI walk -> frame moments -> " +
        "bigrams -> containment -> keep-best CC, all pinned. Scale: batch-sized " +
        "joins on fingerprint keys; the shingle state is ~64 rows per corpus video."
    ) { (s, dir) => admitVtrimLeg(s, dir, steady = false) },

    // ----- x74 crop leg: tile-aligned crop admission (the icrop modality row) -----
    Q(
      "x74_admit_icrop",
      Some(s"WITH RECURSIVE $admitIcropSql"),
      "CROP leg of media ADMISSION — x74_admit_vtrim one modality over, completing " +
        "the Modalities containment column: a tile-aligned crop of corpus IMAGE " +
        "keeps its interior tiles bit-exact but shifts every dHash block boundary, " +
        "so x74_admit_img admits it. The x152 containment rule as the admission " +
        "signal, through the SAME machinery the video leg uses (admitTrimCompare / " +
        "admitTrimStrictLosers — the shingle spaces stay disjoint via the mod tag, " +
        "statuses split per modality off the one Modalities table): batch images' " +
        "distinct diagonal tile-neighborhood shingles vs the corpus shingle state, " +
        ">= 0.8 containment flags near_dup_corpus_icrop; the strict pass CCs the " +
        "still-admitted batch shingles and keeps the image with the MOST shingles " +
        "per component (the LARGER image is the source; min-id would keep the crop " +
        "and drop the original), losers near_dup_batch_icrop. Fixture: the shared " +
        "admit population split with off meaning TILE offset — re-arrivals replay " +
        "the original's 6x5 tile grid cropped to (1..5, 1..4); %45==0 crops have " +
        "corpus siblings (flagged corpus), %9==0 & v>=3 crops arrive WITH their " +
        "source (only the strict keep-best can order that pair). Oracle recomputes " +
        "the tile levels: encode -> decode -> tile moments -> diagonal bigrams -> " +
        "containment -> keep-best CC, all pinned. Scale: batch-sized joins on " +
        "fingerprint keys; the shingle state is ~20 rows per corpus image."
    ) { (s, dir) => admitIcropLeg(s, dir, steady = false) },

    // ----- x74 excerpt leg: utterance-anchored audio admission (the atrim row) -----
    Q(
      "x74_admit_atrim",
      Some(s"WITH RECURSIVE $admitAtrimSql"),
      "EXCERPT leg of media ADMISSION — the containment triad's third admission " +
        "row, completing the Modalities containment column on every modality: a " +
        "re-posted excerpt of corpus audio cut at pauses keeps its utterances' " +
        "voiced-core moments bit-exact but shifts every dHash window, so " +
        "x74_admit_aud admits it. The x153 rule as the admission signal through " +
        "the SAME machinery (admitTrimCompare / admitTrimStrictLosers — the aud " +
        "shingle space disjoint via the mod tag): batch clips' distinct " +
        "adjacent-utterance bigrams vs the corpus shingle state, >= 0.8 " +
        "containment flags near_dup_corpus_atrim; the strict pass CCs the " +
        "still-admitted batch shingles and keeps the clip with the MOST " +
        "utterance bigrams per component (the LONGER recording is the source), " +
        "losers near_dup_batch_atrim. Fixture: the shared admit population split " +
        "with off meaning UTTERANCE offset — re-arrivals replay utterances 7..21 " +
        "cut four samples into the preceding separator (the mid-separator cut " +
        "the voiced-core rule exists for); %45==0 excerpts have corpus siblings " +
        "(flagged corpus), %9==0 & v>=3 excerpts arrive WITH their source (only " +
        "the strict keep-best can order that pair). Oracle recomputes the " +
        "utterance levels: encode -> RIFF walk -> segmentation -> core moments " +
        "-> bigrams -> containment -> keep-best CC, all pinned. Scale: " +
        "batch-sized joins on fingerprint keys; the shingle state is ~21 rows " +
        "per corpus clip."
    ) { (s, dir) => admitAtrimLeg(s, dir, steady = false) },

    // ----- x154: video SPATIAL-crop containment (per-frame tiles, exact baseline) -----
    Q(
      "x154_video_spatial_containment",
      Some(
        s"WITH $x154BgSql, " +
          "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM bg a " +
          "JOIN bg b ON a.g1 = b.g1 AND a.g2 = b.g2 AND a.doc_id <> b.doc_id " +
          "GROUP BY 1, 2) " +
          "SELECT da AS doc_id_a, db AS doc_id_b, CAST(i AS BIGINT) AS n_inter, " +
          "CAST(sa.n AS BIGINT) AS n_a FROM inter JOIN sz sa ON sa.doc_id = da " +
          "WHERE 5 * i >= 4 * sa.n ORDER BY doc_id_a, doc_id_b"),
      "Video SPATIAL-crop containment — the fourth shingle space, closing the one " +
        "evasion the r14 triad left open (the round-14 verdict's #1 ask): a " +
        "spatially cropped video re-render (letterbox removal, watermark strip) " +
        "keeps every frame temporally but moves every frame's WHOLE-frame luma " +
        "moment, so it evades BOTH the temporal dHash (x145) and the trim signal " +
        "(x147) silently. The x152 recipe composed per frame: fixed 8-px " +
        "origin-anchored tile moments of EVERY frame through the hardened AVI walk " +
        "(decodeAviFrameTileStats — bottom-up DIB rows mapped to image space, so a " +
        "tile is bit-identical to the same pixels through javax.imageio), diagonal " +
        "2x2 tile-neighborhood fingerprints DISTINCT-unioned across frames per " +
        "video, x25's directional rule at 0.8. A tile-aligned crop keeps every " +
        "interior neighborhood of every frame bit-exact and is contained at 1.0 in " +
        "its source; the source stays at 12/20 per frame below the rule " +
        "(directional). HONEST LIMITS, each the established per-space rule: " +
        "non-multiple-of-8 crop offsets shift every tile boundary (the x152 " +
        "framing rule, spec-pinned from the evasion side); a re-brightened crop " +
        "moves every moment (the trim-signal rule); a crop that ALSO trims " +
        "temporally still matches (subset of a subset — the two video spaces " +
        "compose). Fixture: 6-frame 6x5-tile closed-form AVIs; every 15th doc " +
        "re-posts every frame's tiles (1..5, 1..4) as a REAL 5x4-tile AVI. Oracle " +
        "recomputes the per-(frame, tile) levels, pinning encode -> AVI walk -> " +
        "tile moments -> per-frame diagonal shingles -> cross-frame distinct -> " +
        "containment. EXACTNESS BASELINE: all-pairs fingerprint self-join, " +
        "benchExcluded like the x147/x152/x153 exact forms; the benched " +
        "production twin is x154_vcrop_containment_lsh."
    ) { (s, dir) =>
      videoSpatialContainmentPairs(sidecar(s, "x154_media", dir)(
        x154FixtureMedia(table(s, dir, "documents").select("doc_id"))))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x154 scale twin: LSH-candidate spatial-crop containment (benched) -----
    Q(
      "x154_vcrop_containment_lsh",
      Some(s"WITH $x154BgSql, ${lshContainSql(64000L, 64000000L)}"),
      "The video spatial-crop SCALE path — containmentPairsLshFromShingles on the " +
        "cross-frame tile shingles, sharing the x147/x152/x153 LSH engine " +
        "verbatim: one md5 h60 per distinct fingerprint, 16 affine " +
        "hash-permutation minhashes (driver-derived literals inlined into BOTH " +
        "engines), 4-way banding, ONE keyed join on 60-bit band keys, exact " +
        "directional verify on candidates only (precision 1.0 by construction). " +
        "The oracle recomputes the IDENTICAL candidate set from the closed-form " +
        "per-(frame, tile) levels (s = 64000g, q = 64e6 g^2 for 8x8 uniform " +
        "tiles), pinning the full cross-engine chain on the fourth shingle " +
        "space. Recall follows the Jaccard S-curve (the fixture's 72/120 crop " +
        "sits mid-curve — found or not is a fixed deterministic fact both " +
        "engines agree on); extreme-ratio containment needs the exact form, " +
        "documented. Scale: candidate mass follows band collisions, never the " +
        "fingerprint collision rate; joins shuffle 16-byte band keys and " +
        "32-byte fingerprints, never payloads."
    ) { (s, dir) =>
      videoSpatialContainmentPairsLsh(sidecar(s, "x154_media", dir)(
        x154FixtureMedia(table(s, dir, "documents").select("doc_id"))))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x155: cropped-thumbnail provenance (bipartite containment, exact baseline) -----
    Q(
      "x155_thumbnail_containment",
      Some(s"WITH $x155BgSql, $x155ExactTailSql"),
      "CROPPED-thumbnail provenance — the bipartite containment form x148's exact " +
        "dHash match cannot be (the round-14 verdict's #4 ask): which images are " +
        "(possibly tile-aligned-cropped) regions of which corpus-video frames. " +
        "The image tile shingles (x152) and the video per-FRAME tile shingles " +
        "(x154's decoder WITH frame identity) live in the same numeric space ON " +
        "PURPOSE — one tile function, one luma, one grid anchor; the cross-modal " +
        "identity is what decodeAviFrameTileStats's bottom-up-DIB mapping is " +
        "spec-pinned against javax.imageio FOR — so x25's rule applies ACROSS " +
        "modalities: den*|A inter F| >= num*|A| for A the image's fingerprint set " +
        "and F ONE frame's (per-frame, not the clip union — a 20-shingle " +
        "thumbnail would dilute to nothing against long footage). Directional " +
        "(image side) only: frame-in-image is not provenance. A tile-aligned " +
        "crop of a frame is contained at 1.0; a full-frame re-post at 1.0. " +
        "HONEST LIMITS: the x152 framing rule (non-aligned crop offsets), the " +
        "brightness rule (x148's dHash covers the re-brightened FULL thumbnail " +
        "— the two operators cover each other's blind spot), the x142 scale " +
        "rule (a RESIZED crop evades both — documented). Fixture: the x154 " +
        "full-grid videos; every 3rd doc posts a thumbnail of frame (doc div 3) " +
        "mod 6, cropped one tile row+column when doc % 6 = 0, full-frame " +
        "otherwise, ids at +7000000 (the globally-unique-id precondition). " +
        "Oracle recomputes both sides' tile levels, pinning BMP encode -> " +
        "imageio decode AND AVI encode -> DIB walk -> one shared fingerprint " +
        "space -> bipartite containment. EXACTNESS BASELINE: raw fingerprint " +
        "join (collision-rate candidate mass), benchExcluded; the benched " +
        "production twin is x155_thumb_containment_lsh."
    ) { (s, dir) =>
      val (vids0, thumbs0) = x155FixtureMedia(table(s, dir, "documents").select("doc_id"))
      val vids = sidecar(s, "x155_vids", dir)(vids0)
      val thumbs = sidecar(s, "x155_thumbs", dir)(thumbs0)
      thumbnailContainmentPairs(thumbs, vids)
        .orderBy("doc_id", "vid_id", "frame_idx")
    },

    // ----- x155 scale twin: bipartite LSH thumbnail containment (benched) -----
    Q(
      "x155_thumb_containment_lsh",
      Some(s"WITH $x155BgSql, ${lshThumbSql(64000L, 64000000L)}"),
      "The thumbnail-provenance SCALE path — the shared LSH recipe made " +
        "BIPARTITE: minhash each image's fingerprint set AND each (video, " +
        "frame)'s set through the SAME md5 h60 + inlined affine permutation " +
        "literals, band-join ACROSS the two sides only, exact directional " +
        "verify on candidate (image, frame) pairs (precision 1.0 by " +
        "construction). Geometry is the recall-leaning 8 bands x 2 rows (band " +
        "match probability J^2 — the --pcontain dedup-stage rationale: a missed " +
        "thumbnail ships a leaked frame forever; the extra bands double band-key " +
        "rows, never verify cost). The oracle recomputes the IDENTICAL " +
        "candidate set from the closed-form levels, so the green row pins the " +
        "full cross-engine bipartite minhash -> band -> candidate -> verify " +
        "chain. The fixture's cropped thumbnails sit at J = 12/20 per frame — " +
        "found or not is a fixed deterministic fact both engines agree on; " +
        "extreme crops need the exact form (documented). Scale: candidate mass " +
        "follows band collisions; joins shuffle 16-byte band keys and 32-byte " +
        "fingerprints, never payloads; each side is decoded once."
    ) { (s, dir) =>
      val (vids0, thumbs0) = x155FixtureMedia(table(s, dir, "documents").select("doc_id"))
      val vids = sidecar(s, "x155_vids", dir)(vids0)
      val thumbs = sidecar(s, "x155_thumbs", dir)(thumbs0)
      thumbnailContainmentPairsLsh(thumbs, vids)
        .orderBy("doc_id", "vid_id", "frame_idx")
    },

    // ----- x74 spatial-crop leg: cropped-video admission (the vcrop status pair) -----
    Q(
      "x74_admit_vcrop",
      Some(s"WITH RECURSIVE $admitVcropSql"),
      "SPATIAL-CROP leg of media ADMISSION — x74_admit_icrop with the frame axis, " +
        "giving the vid modality its SECOND containment row: a tile-aligned " +
        "spatial crop of corpus video keeps every frame's interior tiles " +
        "bit-exact but moves every whole-frame moment, so both x74_admit_vid " +
        "(bands) and x74_admit_vtrim (frame bigrams) admit it. The x154 rule as " +
        "the admission signal through the SAME machinery (admitTrimCompare / " +
        "admitTrimStrictLosers — the vsp shingle space disjoint via the mod " +
        "tag): batch videos' cross-frame distinct tile-neighborhood shingles vs " +
        "the corpus shingle state, >= 0.8 containment flags " +
        "near_dup_corpus_vcrop; the strict pass CCs the still-admitted batch " +
        "shingles and keeps the video with the MOST shingles per component (the " +
        "larger canvas is the source), losers near_dup_batch_vcrop. Fixture: " +
        "the shared admit population split with off meaning TILE offset on " +
        "every frame; %45==0 crops have corpus siblings (flagged corpus), " +
        "%9==0 & v>=3 crops arrive WITH their source (only the strict keep-best " +
        "can order that pair). Oracle recomputes the per-(frame, tile) levels: " +
        "encode -> AVI walk -> tile moments -> per-frame bigrams -> containment " +
        "-> keep-best CC, all pinned. Scale: batch-sized joins on fingerprint " +
        "keys; the shingle state is ~120 rows per corpus video."
    ) { (s, dir) => admitVcropLeg(s, dir, steady = false) },

    // ----- x74 steady twins: the admit legs at DEPLOYMENT cost (r15 ask 3) -----
    // Every composite leg above times bootstrap+compare — it builds the
    // corpus shingle state in-query, which a deployed admission run pays
    // ONCE, not per batch. These twins route the corpus SHINGLE STATE
    // through the battery fixture sidecar: in the bench it materializes
    // once per battery (untimed pass) and the timed median prices
    // state-read + batch decode + compare + strict — the per-batch steady
    // cost ScaleSmoke measures (3.2 s vs the 6.3 s vcrop composite at
    // r15). Outside the battery the sidecar is identity, so each twin
    // computes the identical frame and shares its composite's oracle; the
    // composites move to benchExclude with this dual-key rationale.
    Q(
      "x74_admit_vtrim_steady",
      Some(s"WITH RECURSIVE $admitVtrimSql"),
      "STEADY-state twin of x74_admit_vtrim (r15 verdict ask 3): identical " +
        "population, shingles, compare and strict pass, but the corpus shingle " +
        "STATE rides the battery fixture sidecar — the benched median prices what " +
        "a deployed admission run pays PER BATCH (state scan + batch decode + " +
        "compare + keep-best), not the corpus bootstrap the composite re-times " +
        "per run. Outside the battery the sidecar is identity, so this computes " +
        "the composite's exact frame and shares its oracle (same report rows)."
    ) { (s, dir) => admitVtrimLeg(s, dir, steady = true) },
    Q(
      "x74_admit_icrop_steady",
      Some(s"WITH RECURSIVE $admitIcropSql"),
      "STEADY-state twin of x74_admit_icrop — the vtrim steady rationale one " +
        "modality over: the corpus tile-shingle state rides the battery fixture " +
        "sidecar, so the benched median prices the per-batch admission cost " +
        "(state scan + batch decode + compare + keep-best). Identity outside the " +
        "battery; shares the composite's oracle."
    ) { (s, dir) => admitIcropLeg(s, dir, steady = true) },
    Q(
      "x74_admit_atrim_steady",
      Some(s"WITH RECURSIVE $admitAtrimSql"),
      "STEADY-state twin of x74_admit_atrim — the utterance-excerpt leg at " +
        "deployment cost: the corpus utterance-shingle state rides the battery " +
        "fixture sidecar, so the benched median prices the per-batch admission " +
        "cost. Identity outside the battery; shares the composite's oracle."
    ) { (s, dir) => admitAtrimLeg(s, dir, steady = true) },
    Q(
      "x74_admit_vcrop_steady",
      Some(s"WITH RECURSIVE $admitVcropSql"),
      "STEADY-state twin of x74_admit_vcrop — the densest shingle space (vsp, " +
        "~120 fingerprints/video) at deployment cost: the corpus per-frame " +
        "tile-shingle state rides the battery fixture sidecar, so the benched " +
        "median prices the per-batch admission cost the r15 ScaleSmoke steady " +
        "measured at 3.2 s against the composite's 6.3 s. Identity outside the " +
        "battery; shares the composite's oracle."
    ) { (s, dir) => admitVcropLeg(s, dir, steady = true) },

    // ----- x156: RESIZED-crop containment (multi-scale tiles, exact baseline) -----
    Q(
      "x156_resized_crop_containment",
      Some(s"WITH $x156BgSql, $x156ExactTailSql"),
      "RESIZED-crop containment — closing the perceptual family's last undetected " +
        "re-post mode (the round-15 verdict's #1 ask): crop-then-RESCALE moves " +
        "every dHash block (x139/x142) and every tile boundary (x152/x154/x155) " +
        "simultaneously, so it evaded every prior signal. The fix re-shingles the " +
        "corpus side at the canonical mip rescales (RescaleSet = 2x and 4x box " +
        "reductions) through the ONE-PASS scaled decoder " +
        "(decodeImageBlocksTilesScales — per-channel round-half-up box average, " +
        "property-pinned BIT-IDENTICAL to decoding an actually-materialized " +
        "canonical downscale on random RGB content): a k-resized crop re-post's " +
        "NATIVE tiles are bit-exact tiles of the original's k-downscale when the " +
        "crop is tile*k-aligned, so x25's directional rule applies across scale " +
        "levels — den*|A inter S_k| >= num*|A| for A the re-post's native set. " +
        "Per-scale verdicts name which reduction saw it. HONEST LIMITS, each the " +
        "established per-space rule: rescale factors outside the canonical set " +
        "share nothing (the mip chain covers the dominant thumbnail reductions; " +
        "`scales` is the corpus-level knob); non-tile*k-aligned crop offsets " +
        "shift every scaled boundary (the x152 framing rule one scale up); a " +
        "non-box or differently-rounded resampler moves every moment (the " +
        "brightness rule's shape); UPSCALED re-posts are the mirror case (swap " +
        "which side filters scale=1), documented at the engine. Fixture: 128x96 " +
        "originals on a 16x12 closed-form cell grid; every 15th doc re-posts the " +
        "2x-resized 16-px-aligned crop (+5000000), every 45th the 4x-resized " +
        "32-px-aligned crop (+6000000). The oracle recomputes every set as " +
        "window-sum families over the cell grid, pinning encode -> imageio -> " +
        "canonical downscale -> tile moments -> cross-scale containment. " +
        "EXACTNESS BASELINE: raw fingerprint join, benchExcluded; the benched " +
        "production twin is x156_rcrop_containment_lsh."
    ) { (s, dir) =>
      resizedCropContainmentPairs(sidecar(s, "x156_media", dir)(
        x156FixtureMedia(table(s, dir, "documents").select("doc_id"))))
        .orderBy("doc_id", "src_id", "scale")
    },

    // ----- x156 scale twin: LSH-candidate resized-crop containment (benched) -----
    Q(
      "x156_rcrop_containment_lsh",
      Some(s"WITH $x156BgSql, $x156LshTailSql"),
      "The resized-crop SCALE path — the bipartite LSH recipe across scale " +
        "levels: one md5 h60 per fingerprint (hashing the ACTUAL moment tuple — " +
        "the multi-scale sets span several value families), 16 affine " +
        "permutation minhashes per set (native per doc, scaled per (doc, k)), " +
        "the recall-leaning 8x2 banding (J^2 band match — the dedup-stage " +
        "rationale: a missed resized thumbnail ships forever), ONE band-keyed " +
        "join native-vs-scaled, exact directional verify on candidates " +
        "(precision 1.0 by construction). The oracle recomputes the IDENTICAL " +
        "candidate set from the closed-form window-sum families through the " +
        "same literals, pinning the full cross-engine chain. The fixture's " +
        "2x crops sit at J = 24/35 (found); the 4x crops at J = 2/6 — found or " +
        "not is a fixed deterministic fact both engines agree on (extreme " +
        "ratios need the exact form, documented). Scale: candidate mass " +
        "follows band collisions; joins shuffle 16-byte band keys and 32-byte " +
        "fingerprints, never payloads; each image is decoded ONCE for all " +
        "scale levels (the one-pass decoder)."
    ) { (s, dir) =>
      resizedCropContainmentPairsLsh(sidecar(s, "x156_media", dir)(
        x156FixtureMedia(table(s, dir, "documents").select("doc_id"))))
        .orderBy("doc_id", "src_id", "scale")
    },

    // ----- x74 resized-crop leg: rcrop admission (the rescale-space status pair) -----
    Q(
      "x74_admit_rcrop",
      Some(s"WITH RECURSIVE $admitRcropSql"),
      "RESIZED-CROP leg of media ADMISSION — the x156 rule as an admission " +
        "signal through the SAME machinery, on the ASYMMETRIC rescale spaces " +
        "(RescaleSpaces: the state carries each image's SCALED fingerprints " +
        "under rs2/rs4; the batch compares its NATIVE fingerprints re-tagged " +
        "per space — zero extra decode, n_sh pricing the native set): a " +
        "2x-resized tile*k-aligned crop of corpus imagery flags " +
        "near_dup_corpus_rcrop (both scales fold to ONE status — the signal is " +
        "'resized crop'); the strict pass adds the bipartite native-vs-scaled " +
        "qualification to the shared CC (admitTrimStrictLosers' rs leg) and " +
        "keeps the doc with the most total fingerprints (the full-canvas " +
        "source), losers near_dup_batch_rcrop. Fixture: the shared admit " +
        "population split with off meaning 'is the 2x-resized crop'; %45==0 " +
        "crops have corpus content siblings (the v=2 one-cell bump leaves " +
        "23/24 over the rule — flagged corpus), %9==0 & v>=3 crops arrive " +
        "WITH their full-canvas source (only the strict keep-best can order " +
        "that pair). Oracle recomputes the cluster-keyed window-sum families: " +
        "encode -> decode -> canonical downscale -> containment -> bipartite " +
        "strict CC, all pinned. Scale: batch-sized joins on fingerprint keys; " +
        "the rs state adds ~41 rows per corpus image (~+31% of its native " +
        "count, the 1/k^2 sum)."
    ) { (s, dir) => admitRcropLeg(s, dir, steady = false) },

    Q(
      "x74_admit_rcrop_steady",
      Some(s"WITH RECURSIVE $admitRcropSql"),
      "STEADY-state twin of x74_admit_rcrop — the fifth admit leg completing " +
        "the r15 verdict-ask-3 pattern: identical population, rescale-space " +
        "shingles, compare-feed assembly, doc-level fold and bipartite strict " +
        "pass, but the corpus rs2/rs4 shingle STATE rides the battery fixture " +
        "sidecar, so the benched median prices what a deployed admission run " +
        "pays PER BATCH (state scan + batch decode + compare + keep-best) " +
        "instead of re-timing the corpus bootstrap per run. Identity outside " +
        "the battery; shares the composite's oracle (same report rows)."
    ) { (s, dir) => admitRcropLeg(s, dir, steady = true) },

    // ----- x148: thumbnail provenance (image == frame-of-video cross-match) -----
    Q(
      "x148_thumbnail_match",
      Some(
        "WITH fidx AS (SELECT unnest([0, 16, 32, 48, 64]) AS f), " +
          "vx AS (SELECT doc_id, f, x, y FROM documents, fidx, " +
          "(SELECT unnest(generate_series(0, 8)) AS x), " +
          "(SELECT unnest(generate_series(0, 7)) AS y)), " +
          "vgp AS (SELECT doc_id, f, x, y, " +
          s"(${XHash.h60Sql("CAST(doc_id AS VARCHAR) || '#' || CAST(f AS VARCHAR) || '_' || CAST(x AS VARCHAR) || '_' || CAST(y AS VARCHAR)")} % 215) + 10 AS g FROM vx), " +
          "fbits AS (SELECT l.doc_id, l.f, l.y * 8 + l.x AS i, " +
          "CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit FROM vgp l " +
          "JOIN vgp r ON r.doc_id = l.doc_id AND r.f = l.f AND r.y = l.y AND r.x = l.x + 1 " +
          "WHERE l.x < 8), " +
          "fbands AS (SELECT doc_id, f, i // 16 AS j, " +
          "CAST(sum(bit << (i % 16)) AS BIGINT) AS bv FROM fbits GROUP BY 1, 2, 3), " +
          "ix AS (SELECT doc_id, x, y FROM documents, " +
          "(SELECT unnest(generate_series(0, 8)) AS x), " +
          "(SELECT unnest(generate_series(0, 7)) AS y)), " +
          "igp AS (SELECT doc_id, x, y, CASE WHEN doc_id % 10 = 0 THEN " +
          s"(${XHash.h60Sql("CAST(doc_id AS VARCHAR) || '#32_' || CAST(x AS VARCHAR) || '_' || CAST(y AS VARCHAR)")} % 215) + 26 ELSE " +
          s"(${XHash.h60Sql("CAST(doc_id AS VARCHAR) || '#i_' || CAST(x AS VARCHAR) || '_' || CAST(y AS VARCHAR)")} % 215) + 10 END AS g FROM ix), " +
          "ibits AS (SELECT l.doc_id, l.y * 8 + l.x AS i, " +
          "CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit FROM igp l " +
          "JOIN igp r ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1 WHERE l.x < 8), " +
          "ibands AS (SELECT doc_id + 7000000 AS img_id, i // 16 AS j, " +
          "CAST(sum(bit << (i % 16)) AS BIGINT) AS bv FROM ibits GROUP BY 1, 2), " +
          "cand AS (SELECT DISTINCT i.img_id, fb.doc_id AS vid_id, fb.f FROM ibands i " +
          "JOIN fbands fb ON fb.j = i.j AND fb.bv = i.bv), " +
          "hm AS (SELECT c.img_id, c.vid_id, c.f, " +
          "sum(bit_count(xor(ib.bv, fb.bv))) AS hd FROM cand c " +
          "JOIN ibands ib ON ib.img_id = c.img_id " +
          "JOIN fbands fb ON fb.doc_id = c.vid_id AND fb.f = c.f AND fb.j = ib.j " +
          "GROUP BY 1, 2, 3) " +
          s"SELECT img_id AS doc_id, vid_id, CAST(f AS BIGINT) AS frame_idx " +
          s"FROM hm WHERE hd <= $MaxHamming ORDER BY 1, 2, 3"),
      "THUMBNAIL provenance — the cross-modal question a video+image corpus must " +
        "answer before training (is this 'image' just a frame of a video we already " +
        "have? LAION-style pipelines dedup images and videos separately and never " +
        "see the overlap): every 16th frame of each video is extracted as a REAL " +
        "standalone BMP (extractAviFrames — container surgery, the DIB frame body IS " +
        "the BMP pixel array, 54-byte header prepend + one byte copy, no re-encode), " +
        "hashed through the SAME javax.imageio decode + dHash as the image side (one " +
        "hash function = one candidate space — deliberately the OPPOSITE of the " +
        "dedup family's modality-disjoint rule: a thumbnail IS an image of the " +
        "frame), banded bipartite join + hamming<=3 verify -> (image, video, " +
        "frame_idx) matches. Fixture: per doc a 65-frame 9x8 AVI with full per-pixel " +
        "closed-form structure; every 10th doc posts frame 32 BRIGHTENED +16 as its " +
        "image (byte equality cannot see it, the dHash invariance can — which is " +
        "what the oracle pins through makeAvi -> extract -> imageio -> hash -> " +
        "band -> verify); other docs post unrelated images (no false matches at " +
        "hamming<=3 of 64 informative bits). Scale: frames-per-video capped by the " +
        "stride, 16-byte band keys shuffle, payloads decoded once and never moved."
    ) { (s, dir) =>
      import s.implicits._
      val ids = table(s, dir, "documents").select("doc_id")
      val videos = sidecar(s, "x148_videos", dir)(ids.as[Long]
        .mapPartitions(_.map(id => (id, fixtureAviFrames(id))))
        .toDF("doc_id", "payload"))
      val images = sidecar(s, "x148_images", dir)(ids.as[Long]
        .mapPartitions(_.map { id =>
          val p =
            if (id % 10 == 0) makeBmp(9, 8, (x, y) => fixtureVidFrameGray(id, 32, x, y) + 16)
            else makeBmp(9, 8, (x, y) =>
              (XHash.h60(s"$id#i_${x}_$y") % 215).toInt + 10)
          (id + 7000000L, p)
        })
        .toDF("doc_id", "payload"))
      thumbnailMatches(images, videos, every = 16)
        .orderBy("doc_id", "vid_id", "frame_idx")
    },

    // ----- x149: scene-cut audit (shot boundaries / slideshow detection) -----
    Q(
      "x149_scene_cuts",
      Some(
        "WITH f0 AS (SELECT doc_id, unnest(generate_series(0, 29)) AS f FROM documents), " +
          "lv AS (SELECT doc_id, f, " +
          s"(${XHash.h60Sql("CAST(doc_id AS VARCHAR) || 's' || CAST(f // 5 AS VARCHAR)")} % 150) + 50 " +
          s"+ (${XHash.h60Sql("CAST(doc_id AS VARCHAR) || 'j' || CAST(f AS VARCHAR)")} % 10) AS l FROM f0), " +
          "q AS (SELECT doc_id, f, l, lag(l) OVER (PARTITION BY doc_id ORDER BY f) AS pl FROM lv), " +
          "c AS (SELECT doc_id, f, CASE WHEN pl IS NOT NULL AND abs(l - pl) > 50 " +
          "THEN 1 ELSE 0 END AS cut FROM q), " +
          "sg AS (SELECT doc_id, f, sum(cut) OVER (PARTITION BY doc_id ORDER BY f) AS seg FROM c), " +
          "sl AS (SELECT doc_id, seg, count(*) AS n FROM sg GROUP BY 1, 2), " +
          "pc AS (SELECT doc_id, CAST(sum(cut) AS BIGINT) AS nc FROM c GROUP BY 1), " +
          "pl2 AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS ls FROM sl GROUP BY 1) " +
          "SELECT doc_id % 10 AS decile, CAST(count(*) AS BIGINT) AS n_vids, " +
          "CAST(count(*) * 30 AS BIGINT) AS frames_total, " +
          "CAST(sum(nc) AS BIGINT) AS cuts_total, " +
          "CAST(bit_xor(nc) AS BIGINT) AS cuts_xor, " +
          "CAST(bit_xor(ls) AS BIGINT) AS longest_xor " +
          "FROM pc JOIN pl2 USING (doc_id) GROUP BY 1 ORDER BY 1"),
      "SCENE-CUT audit — shot-boundary detection over the frame luma envelope, the " +
        "segmentation signal a video curation pipeline keys frame sampling on (one " +
        "frame per SCENE beats one per stride when scenes are long; a deck of " +
        "near-static 'scenes' is a slideshow, not footage): a CUT is a frame whose " +
        "mean e3 luma moves > 50 levels from its predecessor (|delta frame sum| > " +
        "threshold * npx — exact integers, no optical flow; gradual fades and " +
        "equal-luminance cuts are the documented misses), longest_scene = the " +
        "longest run between cuts. Fixture: per doc a REAL 30-frame AVI with 6 " +
        "planted 5-frame scenes — intra-scene jitter < 10 can never cut, scene " +
        "boundaries cut only when the bases differ enough, so both cells carry " +
        "data and the oracle (which recomputes levels and replays the run-length " +
        "rule via window functions) pins the decoder's exact counters. Registered " +
        "via the REAL library route (videoSceneCutFrame over synthesized " +
        "payloads). Plan: decode-scan + per-doc aggregate — embarrassingly " +
        "parallel at 100 TB."
    ) { (s, dir) =>
      import s.implicits._
      val media = table(s, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map(id => (id, fixtureAviScenes(id))))
        .toDF("doc_id", "payload")
      Multimodal.videoSceneCutFrame(media)
        .groupBy((col("doc_id") % 10).as("decile"))
        .agg(
          count(lit(1)).as("n_vids"),
          sum("n_frames").as("frames_total"),
          sum("n_cuts").as("cuts_total"),
          expr("bit_xor(n_cuts)").as("cuts_xor"),
          expr("bit_xor(longest_scene)").as("longest_xor"))
        .orderBy("decile")
    },

    // ----- x150: the multimodal quality GATE (one verdict per media doc) -----
    Q(
      "x150_media_quality",
      Some(
        "WITH ipx AS (SELECT doc_id, x, y FROM documents, " +
          "(SELECT unnest(generate_series(0, 8)) AS x), " +
          "(SELECT unnest(generate_series(0, 7)) AS y) WHERE doc_id % 3 = 0), " +
          s"irv AS (SELECT doc_id, ${XHash.h60Sql("CAST(doc_id AS VARCHAR) || 'e' || CAST(x AS VARCHAR) || '_' || CAST(y AS VARCHAR)")} % 100 AS r FROM ipx), " +
          "ig AS (SELECT doc_id, CASE WHEN doc_id % 21 = 0 THEN 5 ELSE " +
          "(CASE WHEN r < 7 THEN 5 WHEN r < 12 THEN 250 ELSE 40 + r END) END AS g FROM irv), " +
          "ipc AS (SELECT doc_id, " +
          "sum(CASE WHEN 1000 * g <= 30000 THEN 1 ELSE 0 END) AS nd, " +
          "sum(CASE WHEN 1000 * g >= 225000 THEN 1 ELSE 0 END) AS nb " +
          "FROM ig GROUP BY 1), " +
          "ist AS (SELECT doc_id, 'img' AS mod, " +
          "(20 * nd > 19 * 72 OR 20 * nb > 19 * 72) AS flagged FROM ipc), " +
          "asj AS (SELECT doc_id, j FROM documents, " +
          "(SELECT unnest(generate_series(0, 159)) AS j) WHERE doc_id % 3 = 1), " +
          s"arv AS (SELECT doc_id, ${XHash.h60Sql("CAST(doc_id AS VARCHAR) || 'q' || CAST(j AS VARCHAR)")} % 100 AS r FROM asj), " +
          "acs AS (SELECT doc_id, CASE WHEN doc_id % 21 = 1 THEN 0 ELSE " +
          "(CASE WHEN r < 6 THEN 128 WHEN r < 10 THEN 255 WHEN r < 13 THEN 0 " +
          "ELSE 20 + 2 * r END) - 128 END AS s FROM arv), " +
          "apc AS (SELECT doc_id, " +
          "sum(CASE WHEN abs(s) <= 1 THEN 1 ELSE 0 END) AS sil, " +
          "sum(CASE WHEN s >= 127 OR s <= -128 THEN 1 ELSE 0 END) AS clip " +
          "FROM acs GROUP BY 1), " +
          "ast AS (SELECT doc_id, 'aud' AS mod, " +
          "(10 * sil > 9 * 160 OR 10 * clip > 160) AS flagged FROM apc), " +
          "vf0 AS (SELECT doc_id, unnest(generate_series(0, 19)) AS f FROM documents " +
          "WHERE doc_id % 3 = 2), " +
          s"vrv AS (SELECT doc_id, f, ${XHash.h60Sql("CAST(doc_id AS VARCHAR) || 'v' || CAST(f AS VARCHAR)")} % 100 AS r FROM vf0), " +
          "vbs AS (SELECT doc_id, f, CASE WHEN r < 10 THEN 5 ELSE 40 + r END AS b FROM vrv), " +
          "vac AS (SELECT doc_id, f, CASE WHEN doc_id % 21 = 2 THEN 5 ELSE " +
          "(CASE WHEN f % 7 = 3 THEN lag(b) OVER (PARTITION BY doc_id ORDER BY f) " +
          "ELSE b END) END AS l FROM vbs), " +
          "vq AS (SELECT doc_id, l, lag(l) OVER (PARTITION BY doc_id ORDER BY f) AS pl FROM vac), " +
          "vpc AS (SELECT doc_id, " +
          "sum(CASE WHEN l <= 30 THEN 1 ELSE 0 END) AS black, " +
          "sum(CASE WHEN pl IS NOT NULL AND l = pl THEN 1 ELSE 0 END) AS frozen " +
          "FROM vq GROUP BY 1), " +
          "vst AS (SELECT doc_id, 'vid' AS mod, " +
          "(2 * black > 20 OR 10 * frozen > 9 * 20) AS flagged FROM vpc), " +
          "u AS (SELECT * FROM ist UNION ALL SELECT * FROM ast UNION ALL SELECT * FROM vst) " +
          "SELECT mod, flagged, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(bit_xor(doc_id) AS BIGINT) AS checksum " +
          "FROM u GROUP BY 1, 2 ORDER BY 1, 2"),
      "The multimodal quality GATE — one modality-detected verdict per media doc " +
        "(`Cli corpus --mquality`'s rule, x150): ONE decode-attempt chain computes " +
        "each modality's own exact-integer counters and applies its documented drop " +
        "rule — images > 95% crushed/blown (x144's counters), audio > 90% silent or " +
        "> 10% rail-clipped (x143's), video > 50% black or > 90% frozen (x146's). " +
        "All integer comparisons; undecodable payloads are never dropped (failures " +
        "are data). Fixture: modality by doc_id % 3 reusing the three audits' " +
        "closed forms, with a planted BAD doc per 21 per modality (all-black image, " +
        "all-silence clip, all-black video) — every (mod, flagged) cell carries " +
        "data, and the aud rule's 10% clip threshold sits inside the fixture's " +
        "~7%±3% clip distribution so the flagged set exercises the boundary " +
        "per-doc. Oracle recomputes all three closed forms and the union. Scale: " +
        "one decode pass + one groupBy — embarrassingly parallel; the gate " +
        "composes with --pdedup (quality first, FineWeb order)."
    ) { (s, dir) =>
      import s.implicits._
      val media = table(s, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map { id =>
          val p = (id % 3) match {
            case 0 =>
              if (id % 21 == 0) makeBmp(9, 8, (_, _) => 5)
              else makeBmp(9, 8, (x, y) => {
                val r = (XHash.h60(s"${id}e${x}_$y") % 100).toInt
                if (r < 7) 5 else if (r < 12) 250 else 40 + r
              })
            case 1 =>
              if (id % 21 == 1) makeWav8(8000, Array.fill(160)(128))
              else makeWav8(8000, Array.tabulate(160) { j =>
                val r = (XHash.h60(s"${id}q$j") % 100).toInt
                if (r < 6) 128 else if (r < 10) 255 else if (r < 13) 0 else 20 + 2 * r
              })
            case _ =>
              if (id % 21 == 2) makeAvi(4, 4, 20, (_, _, _) => 5)
              else fixtureAviQuality(id)
          }
          (id, p)
        })
        .toDF("doc_id", "payload")
      Multimodal.mediaQualityFrame(media)
        .groupBy("mod", "flagged")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("checksum"))
        .orderBy("mod", "flagged")
    },

    // ----- x146: video quality audit (black frames / frozen frames) -----
    Q(
      "x146_video_quality",
      Some(
        "WITH f0 AS (SELECT doc_id, unnest(generate_series(0, 19)) AS f FROM documents), " +
          s"rv AS (SELECT doc_id, f, ${XHash.h60Sql("CAST(doc_id AS VARCHAR) || 'v' || CAST(f AS VARCHAR)")} % 100 AS r FROM f0), " +
          "bs AS (SELECT doc_id, f, CASE WHEN r < 10 THEN 5 ELSE 40 + r END AS b FROM rv), " +
          "ac AS (SELECT doc_id, f, CASE WHEN f % 7 = 3 THEN " +
          "lag(b) OVER (PARTITION BY doc_id ORDER BY f) ELSE b END AS l FROM bs), " +
          "q AS (SELECT doc_id, f, l, lag(l) OVER (PARTITION BY doc_id ORDER BY f) AS pl FROM ac), " +
          "pc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf, " +
          "CAST(sum(CASE WHEN l <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
          "CAST(sum(CASE WHEN pl IS NOT NULL AND l = pl THEN 1 ELSE 0 END) AS BIGINT) AS nz, " +
          "CAST(sum(l) * 16000 AS BIGINT) AS ls, " +
          "CAST(max(l) * 16000 AS BIGINT) AS pk FROM q GROUP BY 1) " +
          "SELECT doc_id % 10 AS decile, CAST(count(*) AS BIGINT) AS n_vids, " +
          "CAST(sum(nf) AS BIGINT) AS frames_total, " +
          "CAST(sum(nb) AS BIGINT) AS black_total, " +
          "CAST(sum(nz) AS BIGINT) AS frozen_total, " +
          "CAST(bit_xor(ls) AS BIGINT) AS sum_xor, " +
          "CAST(bit_xor(pk) AS BIGINT) AS peak_xor " +
          "FROM pc GROUP BY 1 ORDER BY 1"),
      "VIDEO quality audit — x143/x144's twin for the frame-stream modality: a video " +
        "corpus must drop dead footage before training, and the detectors are exact " +
        "integer counters over per-frame luma moments (no optical flow needed): " +
        "n_black = frames whose MEAN e3 luma <= 30000 (leaders, trailers, failed " +
        "captures — the x144 crushed-black rule per frame), n_frozen = frames whose " +
        "luma sum AND sum-of-squares both equal the previous frame's (a static " +
        "capture holds both envelope moments; the two-moment collision is the " +
        "detector's documented approximation), plus exact lum_sum / lum_peak. " +
        "Fixture: per doc a REAL 20-frame AVI with closed-form constant-gray frames — " +
        "~10% forced black (level 5), every 7th frame copying its predecessor " +
        "(forced frozen runs, (f-1)%7 never itself frozen so the SQL lag twin is " +
        "non-recursive) — decoded through the hardened walk (decodeAviQuality); the " +
        "oracle recomputes every counter from the level closed form, threshold edges " +
        "inclusive. Registered via the REAL library route (videoQualityFrame over " +
        "synthesized payloads). Plan: 2 shuffles, 0 joins — a pure decode-scan " +
        "aggregate, embarrassingly parallel at 100 TB."
    ) { (s, dir) =>
      import s.implicits._
      val media = table(s, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map(id => (id, fixtureAviQuality(id))))
        .toDF("doc_id", "payload")
      Multimodal.videoQualityFrame(media)
        .groupBy((col("doc_id") % 10).as("decile"))
        .agg(
          count(lit(1)).as("n_vids"),
          sum("n_frames").as("frames_total"),
          sum("n_black").as("black_total"),
          sum("n_frozen").as("frozen_total"),
          expr("bit_xor(lum_sum)").as("sum_xor"),
          expr("bit_xor(lum_peak)").as("peak_xor"))
        .orderBy("decile")
    }
  )
}
