package graft.xscale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the perceptual-dedup primitives end to end: the BMP/WAV writers
  * against the REAL decoders (javax.imageio, the hardened RIFF walk), the
  * exact-integer downsample, the hash's brightness/gain invariance (the
  * property the operator exists for), the pigeonhole-vs-verify split in
  * the banded pair join, and the closed-form fixtures' equality with what
  * the oracle SQL recomputes.
  */
class PerceptualDedupSpec extends SparkSpec {
  import PerceptualDedup._

  // ---- container writers vs real decoders ----

  test("makeBmp round-trips through javax.imageio: block sums are exactly 1000x gray") {
    // asymmetric gray pins row order (bottom-up write, top-down read) and
    // channel order (equal channels make BGR-vs-RGB invisible; the luma
    // identity 299+587+114=1000 makes the sum exact)
    val g = (x: Int, y: Int) => x * 10 + y
    val Some((w, h, sums, cnts)) = Multimodal.decodeBlockLumaE3(makeBmp(9, 8, g), 9, 8)
    assert(w == 9 && h == 8)
    assert(cnts.forall(_ == 1L))
    for (y <- 0 until 8; x <- 0 until 9)
      assert(sums(y * 9 + x) == 1000L * (x * 10 + y), s"block ($x, $y)")
  }

  test("decodeBlockLumaE3: grid-divisible image aggregates exact 2x2 block sums") {
    // 18x16 image of 2x2-constant blocks must hash identically to the 9x8
    // image of the block values — the downsample-equivalence the dHash
    // convention promises
    val base = (x: Int, y: Int) => ((x * 31 + y * 17) % 200) + 20
    val big = makeBmp(18, 16, (x, y) => base(x / 2, y / 2))
    val small = makeBmp(9, 8, base)
    val Some((_, _, sums, cnts)) = Multimodal.decodeBlockLumaE3(big, 9, 8)
    assert(cnts.forall(_ == 4L))
    for (y <- 0 until 8; x <- 0 until 9)
      assert(sums(y * 9 + x) == 4000L * base(x, y))
    assert(dhashBands(big).get.toSeq == dhashBands(small).get.toSeq)
  }

  test("decodeBlockLumaE3: uneven blocks partition every pixel exactly once") {
    val Some((_, _, _, cnts)) = Multimodal.decodeBlockLumaE3(
      makeBmp(13, 11, (x, y) => (x * 7 + y) % 256), 9, 8)
    assert(cnts.sum == 13L * 11L)
    assert(cnts.forall(_ >= 1L)) // no empty block: w >= bw, h >= bh
  }

  test("dhashBands: hand-computed alternating pattern gives 0x5555 in every band") {
    // g alternates 50/200 by column parity: bit (x, y) = g(x+1) > g(x) is
    // set exactly at even x, so each 16-bit band (two rows of 8 bits) is
    // 0b0101010101010101
    val p = makeBmp(9, 8, (x, _) => if (x % 2 == 0) 50 else 200)
    assert(dhashBands(p).get.toSeq == Seq(0x5555L, 0x5555L, 0x5555L, 0x5555L))
  }

  test("dhashBands: brightness shift is hash-invariant; undecodable/undersized are None") {
    val g = (x: Int, y: Int) => ((x * 53 + y * 29) % 220) + 10
    assert(dhashBands(makeBmp(9, 8, g)).get.toSeq ==
      dhashBands(makeBmp(9, 8, (x, y) => g(x, y) + 16)).get.toSeq)
    assert(dhashBands("not an image".getBytes).isEmpty)
    assert(dhashBands(makeBmp(8, 8, g)).isEmpty) // narrower than the 9-col grid
  }

  test("dhashBandsWide: 8 x 32-bit bands, brightness-invariant, needs a 17x16 image") {
    val g = (x: Int, y: Int) => ((x * 41 + y * 13) % 210) + 15
    val b = dhashBandsWide(makeBmp(17, 16, g)).get
    assert(b.length == 8)
    assert(b.forall(v => v >= 0L && v <= 0xffffffffL))
    assert(b.toSeq == dhashBandsWide(makeBmp(17, 16, (x, y) => g(x, y) + 20)).get.toSeq)
    assert(dhashBandsWide(makeBmp(9, 8, g)).isEmpty)
  }

  test("makeWav8 round-trips through decodeWavFrameSums: exact centered frame sums") {
    // frame-constant levels: frame f sum = 8 * (level - 128); a trailing
    // remainder (3 extra samples) is dropped so frames stay equal-length
    val levels = Array.tabulate(65)(f => 30 + 2 * f)
    val samples = Array.tabulate(65 * 8)(j => levels(j / 8))
    val exact = Multimodal.decodeWavFrameSums(makeWav8(8000, samples), 65).get
    assert(exact.toSeq == levels.map(l => 8L * (l - 128)).toSeq)
    val padded = Multimodal.decodeWavFrameSums(makeWav8(8000, samples ++ Array(255, 255, 255)), 65).get
    assert(padded.toSeq == exact.toSeq)
    assert(Multimodal.decodeWavFrameSums("RIFFnope".getBytes, 65).isEmpty)
    assert(Multimodal.decodeWavFrameSums(makeWav8(8000, Array.fill(64)(100)), 65).isEmpty) // < 1 sample/frame
  }

  test("audioDhashBands: gain shift is hash-invariant, one-frame bump flips <= 2 bits") {
    // cluster 0: docs 0 (base), 1 (+10 gain), 2 (frame-7 bump)
    val b0 = audioDhashBands(fixtureWav(0)).get
    val b1 = audioDhashBands(fixtureWav(1)).get
    val b2 = audioDhashBands(fixtureWav(2)).get
    assert(b0.toSeq == b1.toSeq)
    val ham = b0.zip(b2).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    assert(ham <= 2, s"bump flipped $ham bits")
  }

  // ---- fixture closed form == real decode path (the oracle premise) ----

  test("fixture BMP/WAV hashed through the REAL decoders equals the closed-form bits") {
    for (id <- Seq(0L, 1L, 2L, 3L, 7L, 123L)) {
      val imgBits = Array.tabulate(64) { i =>
        val (x, y) = (i % 8, i / 8)
        fixtureGray(id, x + 1, y) > fixtureGray(id, x, y)
      }
      assert(dhashBands(fixtureBmp(id)).get.toSeq == bandsFromBits(imgBits).toSeq, s"img doc $id")
      val audBits = Array.tabulate(64)(f => fixtureFrame(id, f + 1) > fixtureFrame(id, f))
      assert(audioDhashBands(fixtureWav(id)).get.toSeq == bandsFromBits(audBits).toSeq, s"wav doc $id")
    }
  }

  test("fixture variants: brightness twin identical, edit twin <= MaxHamming, distinct far") {
    def ham(a: Array[Long], b: Array[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val bands = (0L to 4L).map(id => dhashBands(fixtureBmp(id)).get)
    assert(bands(0).toSeq == bands(1).toSeq)
    assert(ham(bands(0), bands(2)) <= MaxHamming)
    assert(ham(bands(0), bands(3)) > MaxHamming)
    assert(ham(bands(0), bands(4)) > MaxHamming)
    assert(ham(bands(3), bands(4)) > MaxHamming)
  }

  // ---- banded pair join: pigeonhole finds, verify rejects ----

  test("bandNearDupPairs: hamming <= 3 pairs surface, band-colliding hamming-4 pairs don't") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(100L, 200L, 300L, 400L)), // base
      (2L, Seq(100L, 200L, 300L, 400L)), // identical (hamming 0)
      (3L, Seq(100L, 200L, 300L, 400L ^ 0x6L)), // hamming 2, bands 0-2 equal
      (4L, Seq(100L, 200L, 300L ^ 0x3L, 400L ^ 0x3L)), // hamming 4, bands 0-1 equal: candidate, REJECTED
      (5L, Seq(900L, 901L, 902L, 903L)) // no shared band
    ).toDF("doc_id", "bands")
    val pairs = bandNearDupPairs(rows).as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // ---- the general media surface (real payloads, not fixtures) ----

  test("imageHashFrame/imageNearDupPairs: undecodable rows flagged and skipped, dups found") {
    import spark.implicits._
    val g = (x: Int, y: Int) => ((x * 53 + y * 29) % 200) + 10
    val media = Seq(
      (1L, makeBmp(9, 8, g)),
      (2L, makeBmp(9, 8, (x, y) => g(x, y) + 16)), // brightness twin of 1
      (3L, makeBmp(9, 8, (x, y) => ((x * 91 + y * 57) % 200) + 10)), // distinct
      (4L, "definitely not an image".getBytes) // undecodable
    ).toDF("doc_id", "payload")
    val hf = imageHashFrame(media).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(hf == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false))
    val pairs = PerceptualDedup.imageNearDupPairs(media).as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("imageNearDupPairs wide: default threshold is MaxHammingWide, pigeonhole guard throws") {
    import spark.implicits._
    // an edit with EXACTLY 5 flipped bits — strictly between the classic
    // (3) and wide (7) thresholds, the case the width-appropriate default
    // exists for (an explicit classic threshold would silently drop it).
    // Base is strictly increasing per row (all 256 bits set); the variant
    // drops the LAST column (which participates in only the final
    // comparison of its row) below its neighbor in 5 rows.
    val g = (x: Int, _: Int) => 10 + 12 * x
    val g2 = (x: Int, y: Int) => if (x == 16 && y < 5) 5 else g(x, y)
    val (ba, bb) = (dhashBandsWide(makeBmp(17, 16, g)).get, dhashBandsWide(makeBmp(17, 16, g2)).get)
    val ham = ba.zip(bb).map { case (p, q) => java.lang.Long.bitCount(p ^ q) }.sum
    assert(ham == 5, s"fixture hamming $ham, expected exactly 5")
    val media = Seq((1L, makeBmp(17, 16, g)), (2L, makeBmp(17, 16, g2))).toDF("doc_id", "payload")
    assert(PerceptualDedup.imageNearDupPairs(media, wide = true)
      .as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    assert(imageNearDupPairs(media, wide = true, maxHamming = MaxHamming)
      .as[(Long, Long)].collect().isEmpty)
    // pigeonhole soundness guard: a threshold >= the band count must throw
    intercept[IllegalArgumentException](imageNearDupPairs(media, maxHamming = 4))
    intercept[IllegalArgumentException](audioNearDupPairs(media, maxHamming = 4))
  }

  test("audioNearDupPairs: gain twin pairs, undecodable skipped") {
    import spark.implicits._
    val media = Seq(
      (1L, fixtureWav(0L)),
      (2L, fixtureWav(1L)), // +10 gain twin
      (3L, fixtureWav(3L)), // distinct content
      (4L, Array[Byte](1, 2, 3))
    ).toDF("doc_id", "payload")
    val pairs = PerceptualDedup.audioNearDupPairs(media).as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("dhash is exactly resolution-invariant for integer scales through the real decoder") {
    // the x142 claim: a 2x (and 3x) re-render of the same gray function
    // hashes IDENTICALLY — block sums scale by k^2, counts by k^2, and the
    // cross-multiplied comparison cancels the factor; no float drift
    for (id <- 0L to 9L) {
      val base = dhashBands(fixtureBmp(id * 5)).get
      assert(dhashBands(fixtureBmp2x(id * 5)).get.toSeq == base.toSeq, s"2x, img ${id * 5}")
      val bmp3x = makeBmp(27, 24, (x, y) => fixtureGray(id * 5, x / 3, y / 3))
      assert(dhashBands(bmp3x).get.toSeq == base.toSeq, s"3x, img ${id * 5}")
    }
  }

  test("mediaWideFor: BandBoundary as code — classic at the boundary, wide one past it") {
    assert(!mediaWideFor(BandBoundary))
    assert(mediaWideFor(BandBoundary + 1))
    assert(!mediaWideFor(0L))
  }

  test("audioDhashBandsWide: 8 x 32-bit bands, gain-invariant, needs >= 257 samples") {
    // 514 samples, level varies per 2-sample wide-frame — closed-form
    // bits survive the decoder exactly like the classic form's
    def wav(off: Int) = makeWav8(8000,
      Array.tabulate(AudioFramesWide * 2)(j => 30 + (j / 2 * 37) % 181 + off))
    val b = audioDhashBandsWide(wav(0)).get
    assert(b.length == BandsWide)
    assert(b.forall(v => v >= 0 && v <= 0xffffffffL), "32-bit band values")
    assert(audioDhashBandsWide(wav(10)).get.toSeq == b.toSeq, "gain-invariant")
    // a clip shorter than the wide frame count has no wide hash
    assert(audioDhashBandsWide(makeWav8(8000, Array.fill(256)(100))).isEmpty)
    // the same clip still hashes CLASSIC (65 frames)
    assert(audioDhashBands(makeWav8(8000, Array.fill(256)(100))).isDefined)
  }

  test("audioNearDupPairs wide: gain twin pairs at the wide threshold, width-resolved default") {
    import spark.implicits._
    def wav(seed: Int, off: Int) = makeWav8(8000,
      Array.tabulate(AudioFramesWide * 2)(j => 30 + (j / 2 * 37 + seed * 53) % 181 + off))
    val media = Seq(
      (1L, wav(0, 0)),
      (2L, wav(0, 10)), // re-gain twin: hamming 0 wide
      (3L, wav(7, 0))   // distinct content
    ).toDF("doc_id", "payload")
    assert(PerceptualDedup.audioNearDupPairs(media, wide = true)
      .as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    // pigeonhole guard holds per width
    intercept[IllegalArgumentException](
      audioNearDupPairs(media, wide = true, maxHamming = BandsWide))
  }

  test("mediaHashFrame: modality-detected, disjoint candidate spaces, cross-modal never pairs") {
    import spark.implicits._
    val media = Seq(
      (1L, fixtureBmp(0L)),          // image, cluster 0
      (2L, fixtureBmp(1L)),          // its brightness twin
      (3L, fixtureWav(0L)),          // audio, cluster 0 — same closed-form
      (4L, fixtureWav(1L)),          // content FAMILY as the images
      (5L, "neither".getBytes)       // no reader accepts it
    ).toDF("doc_id", "payload")
    val hf = mediaHashFrame(media).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(hf(1L) == ((true, "img")) && hf(2L) == ((true, "img")))
    assert(hf(3L) == ((true, "aud")) && hf(4L) == ((true, "aud")))
    assert(hf(5L)._1 == false)
    // pairs form WITHIN a modality only — even if an image band value
    // happened to collide with an audio one, `mod` keys them apart
    val pairs = PerceptualDedup.mediaNearDupPairs(media)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  test("small media under wide fall back to classic in width-suffixed spaces — recall stays on") {
    import spark.implicits._
    // a wide-width run (corpus past BandBoundary) containing THUMBNAILS:
    // 9x8 images and 520-sample clips can't fill the 17x16 / 257-frame
    // wide grids — they must still dedup among themselves (classic hash,
    // img16/aud16 spaces) rather than silently dropping out as
    // undecodable
    val media = Seq(
      (1L, fixtureBmpWide(0L)),            // wide-sized image
      (2L, fixtureBmpWide(1L)),            // its brightness twin (wide pair)
      (3L, fixtureBmp(10L)),               // 9x8 thumbnail...
      (4L, fixtureBmp(11L)),               // ...and its brightness twin
      // 200-sample clips: enough for the classic 65 frames, short of the
      // wide 257 (the 520-sample fixtureWav clears BOTH grids)
      (5L, makeWav8(8000, Array.tabulate(200)(j => 30 + (j * 37) % 181))),
      (6L, makeWav8(8000, Array.tabulate(200)(j => 40 + (j * 37) % 181))),
      (7L, "junk".getBytes)                // truly undecodable
    ).toDF("doc_id", "payload")
    val hf = mediaHashFrame(media, wide = true).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(hf(1L) == ((true, "img")) && hf(3L) == ((true, "img16")))
    assert(hf(5L) == ((true, "aud16")) && hf(7L)._1 == false)
    // all three pairs surface; the width-suffixed spaces never meet the
    // wide ones, and the per-row threshold clamp keeps the classic rows
    // at hamming<=3 even though the wide default is 7
    val pairs = mediaNearDupPairs(media, wide = true)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L), (5L, 6L)))
  }

  // ---- the video modality: AVI walk, temporal dHash, quality counters ----

  test("makeAvi round-trips through decodeAviFrameStats: exact per-frame luma sums") {
    // asymmetric gray pins row order; equal channels make the e3 luma
    // exactly 1000x gray, so the frame sums are closed-form
    val g = (f: Int, x: Int, y: Int) => f * 20 + x * 5 + y
    val Some((w, h, sums, sqs)) = Multimodal.decodeAviFrameStats(makeAvi(3, 2, 4, g))
    assert(w == 3 && h == 2)
    assert(sums.length == 4)
    for (f <- 0 until 4) {
      val expect = (for (x <- 0 until 3; y <- 0 until 2) yield 1000L * g(f, x, y)).sum
      assert(sums(f) == expect, s"frame $f sum")
      val expectSq = (for (x <- 0 until 3; y <- 0 until 2)
        yield { val l = 1000L * g(f, x, y); l * l }).sum
      assert(sqs(f) == expectSq, s"frame $f sumSq")
    }
  }

  test("AVI walk hardening: truncated frames skipped, oversize refused, claims clamped") {
    val base = fixtureAvi(0L)
    // truncating the last frame's tail drops THAT frame, not the clip:
    // 64 complete frames remain — under the 65-window grid, so no hash
    val cut = base.take(base.length - 10)
    assert(Multimodal.decodeAviFrameStats(cut).get._3.length == VideoWindows - 1)
    assert(videoDhashBands(cut).isEmpty)
    // a crafted header claiming 100000x100000 pixels is refused BEFORE
    // any frame byte is touched (MaxDecodePixels, the image reader's rule)
    val big = base.clone()
    def le32(o: Int, v: Long): Unit =
      (0 until 4).foreach(j => big(o + j) = ((v >> (8 * j)) & 0xff).toByte)
    le32(32 + 32, 100000L); le32(32 + 36, 100000L)
    assert(Multimodal.decodeAviFrameStats(big).isEmpty)
    // and the Long-overflow variant: 0xFFFFFFFF x 0xFFFFFFFF wraps w*h
    // NEGATIVE — a product-only guard would accept it (rowSize 0, every
    // chunk a zero-luma "frame"); the per-dimension bound refuses it
    val wrap = base.clone()
    def le32w(o: Int, v: Long): Unit =
      (0 until 4).foreach(j => wrap(o + j) = ((v >> (8 * j)) & 0xff).toByte)
    le32w(32 + 32, 0xFFFFFFFFL); le32w(32 + 36, 0xFFFFFFFFL)
    assert(Multimodal.decodeAviFrameStats(wrap).isEmpty,
      "overflowing dimensions must be refused, not decoded as zero-size frames")
    // an inflated movi LIST size claim is clamped to the bytes present —
    // same decode as the honest container, no crash, no extra work
    val inflated = base.clone()
    (0 until 4).foreach(j => inflated(92 + j) = ((0x7fffffffL >> (8 * j)) & 0xff).toByte)
    assert(Multimodal.decodeAviFrameStats(inflated).get._3.toSeq ==
      Multimodal.decodeAviFrameStats(base).get._3.toSeq)
    // foreign bytes: a WAV is RIFF but not 'AVI '; a BMP is not RIFF
    assert(Multimodal.decodeAviFrameStats(fixtureWav(0L)).isEmpty)
    assert(Multimodal.decodeAviFrameStats(fixtureBmp(0L)).isEmpty)
    // and the other direction: an AVI is None to the WAV/image decoders
    assert(audioDhashBands(fixtureAvi(0L)).isEmpty)
    assert(dhashBands(fixtureAvi(0L)).isEmpty)
  }

  test("videoDhashBands: brightness AND 2x re-render are hash-invariant, bump <= 2 bits") {
    // cluster 0: docs 0 (base), 1 (+10 brightness), 2 (frame-7 bump)
    val b0 = videoDhashBands(fixtureAvi(0L)).get
    assert(videoDhashBands(fixtureAvi(1L)).get.toSeq == b0.toSeq, "brightness twin")
    assert(videoDhashBands(fixtureAvi2x(0L)).get.toSeq == b0.toSeq, "2x re-render")
    val ham = b0.zip(videoDhashBands(fixtureAvi(2L)).get)
      .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    assert(ham <= 2, s"bump flipped $ham bits")
    // fewer than 65 complete frames: no classic hash
    assert(videoDhashBands(makeAvi(4, 4, 64, (f, _, _) => f % 200)).isEmpty)
  }

  test("fixture AVI hashed through the REAL decoder equals the closed-form bits") {
    for (id <- Seq(0L, 1L, 2L, 3L, 7L, 123L)) {
      val bits = Array.tabulate(64)(f => fixtureFrameVid(id, f + 1) > fixtureFrameVid(id, f))
      assert(videoDhashBands(fixtureAvi(id)).get.toSeq == bandsFromBits(bits).toSeq,
        s"vid doc $id")
    }
  }

  test("videoDhashBandsWide: 8 x 32-bit bands, brightness-invariant, needs >= 257 frames") {
    def avi(off: Int) = makeAvi(4, 4, VideoWindowsWide,
      (f, _, _) => 30 + (f * 37) % 181 + off)
    val b = videoDhashBandsWide(avi(0)).get
    assert(b.length == BandsWide)
    assert(b.forall(v => v >= 0 && v <= 0xffffffffL), "32-bit band values")
    assert(videoDhashBandsWide(avi(10)).get.toSeq == b.toSeq, "brightness-invariant")
    // a 65-frame clip has no wide hash but still hashes classic
    assert(videoDhashBandsWide(fixtureAvi(0L)).isEmpty)
    assert(videoDhashBands(fixtureAvi(0L)).isDefined)
  }

  test("videoNearDupPairs: brightness twin pairs, undecodable skipped, pigeonhole guard") {
    import spark.implicits._
    val media = Seq(
      (1L, fixtureAvi(0L)),
      (2L, fixtureAvi(1L)),   // +10 brightness twin
      (3L, fixtureAvi(3L)),   // distinct content
      (4L, Array[Byte](9, 9, 9))
    ).toDF("doc_id", "payload")
    val pairs = PerceptualDedup.videoNearDupPairs(media).as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    intercept[IllegalArgumentException](videoNearDupPairs(media, maxHamming = 4))
  }

  test("mediaHashFrame: video detected as third modality, vid16 fallback under wide") {
    import spark.implicits._
    val media = Seq(
      (1L, fixtureBmp(0L)),   // image
      (2L, fixtureWav(0L)),   // audio
      (3L, fixtureAvi(0L)),   // video, cluster 0 — same content FAMILY
      (4L, fixtureAvi(1L)),   // its brightness twin
      (5L, "none".getBytes)
    ).toDF("doc_id", "payload")
    val hf = mediaHashFrame(media).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(hf(3L) == ((true, "vid")) && hf(4L) == ((true, "vid")))
    assert(hf(1L)._2 == "img" && hf(2L)._2 == "aud" && !hf(5L)._1)
    // video pairs form within the vid space only; img/aud rows of the
    // same closed-form content family never pair with it
    val pairs = PerceptualDedup.mediaNearDupPairs(media)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 4L)))
    // under wide, a 65-frame clip can't fill the 257-window grid and
    // falls back to the classic hash in the width-suffixed vid16 space
    val hw = mediaHashFrame(media, wide = true).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(hw(3L) == ((true, "vid16")) && hw(4L) == ((true, "vid16")))
    val wp = mediaNearDupPairs(media, wide = true).as[(Long, Long)].collect().toSet
    assert(wp == Set((3L, 4L)), "vid16 recall stays on under wide")
  }

  test("video containment catches the trim the temporal dHash misses — and vice versa") {
    import spark.implicits._
    def avi(img: Long, off: Int, nf: Int, bright: Int = 0) =
      makeAvi(4, 4, nf, (f, _, _) => fixtureFrameVid(img, f + off) + bright)
    val media = Seq(
      (1L, avi(0L, 0, 65)),        // the source clip
      (2L, avi(0L, 10, 55)),       // frames 10..64 trimmed out of it
      (3L, avi(0L, 10, 55, 10)),   // the same trim ALSO re-brightened
      (4L, avi(15L, 0, 65)),       // unrelated clip
      (5L, "junk".getBytes)
    ).toDF("doc_id", "payload")
    // containment sees the exact trim in BOTH directions (54/54 and
    // 54/64), not the brightened one (every fingerprint moved) and not
    // the unrelated clip
    val pairs = PerceptualDedup.videoContainmentPairs(media)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pairs == Set((2L, 1L, 54L, 54L), (1L, 2L, 54L, 64L)), pairs)
    // the complementarity claim, pinned from the other side: the temporal
    // dHash misses the trim entirely (window re-alignment) but catches
    // the BRIGHTENED full-length re-encode containment cannot see
    val media2 = Seq(
      (1L, avi(0L, 0, 65)),
      (2L, avi(0L, 10, 55)),       // trim: invisible to the hash
      (6L, avi(0L, 0, 65, 10))     // +10 brightness: invisible to containment
    ).toDF("doc_id", "payload")
    assert(PerceptualDedup.videoNearDupPairs(media2)
      .as[(Long, Long)].collect().toSet == Set((1L, 6L)))
    assert(PerceptualDedup.videoContainmentPairs(media2)
      .as[(Long, Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet ==
      Set((2L, 1L), (1L, 2L)))
    intercept[IllegalArgumentException](videoContainmentPairs(media, num = 6, den = 5))
  }

  test("extractAviFrames: container surgery round-trips through javax.imageio bit-exact") {
    import spark.implicits._
    // an extracted frame must decode to EXACTLY the gray the AVI writer
    // put in — same block sums as a makeBmp of the same function (the
    // no-re-encode claim), including the padded 9-wide rows
    val videos = Seq((1L, fixtureAviFrames(5L))).toDF("doc_id", "payload")
    val frames = Multimodal.extractAviFrames(videos, every = 16).collect()
      .map(r => (r.getLong(1), r.getAs[Array[Byte]](2))).toMap
    assert(frames.keySet == Set(0L, 16L, 32L, 48L, 64L), "stride rule")
    for ((f, p) <- frames) {
      val Some((w, h, sums, _)) = Multimodal.decodeBlockLumaE3(p, 9, 8)
      assert(w == 9 && h == 8)
      for (y <- 0 until 8; x <- 0 until 9)
        assert(sums(y * 9 + x) == 1000L * fixtureVidFrameGray(5L, f.toInt, x, y),
          s"frame $f block ($x, $y)")
      // and the extracted frame's dHash equals the direct BMP's
      assert(dhashBands(p).get.toSeq ==
        dhashBands(makeBmp(9, 8, (x, y) => fixtureVidFrameGray(5L, f.toInt, x, y))).get.toSeq)
    }
    // non-AVI payloads contribute no rows; every must be >= 1
    assert(Multimodal.extractAviFrames(
      Seq((2L, fixtureBmp(0L))).toDF("doc_id", "payload")).isEmpty)
    intercept[IllegalArgumentException](Multimodal.extractAviFrames(videos, every = 0))
  }

  test("thumbnailMatches: a brightened frame re-post matches (vid, frame_idx); no false hits") {
    import spark.implicits._
    val videos = Seq((10L, fixtureAviFrames(10L)), (20L, fixtureAviFrames(20L)))
      .toDF("doc_id", "payload")
    val images = Seq(
      // frame 48 of video 10, brightened +16 — byte hashing cannot see it
      (100L, makeBmp(9, 8, (x, y) => fixtureVidFrameGray(10L, 48, x, y) + 16)),
      // an unrelated image
      (101L, makeBmp(9, 8, (x, y) => ((x * 67 + y * 31) % 200) + 20)),
      // undecodable bytes are skipped, not errors
      (102L, "not media".getBytes)
    ).toDF("doc_id", "payload")
    val m = PerceptualDedup.thumbnailMatches(images, videos)
      .as[(Long, Long, Long)].collect().toSet
    assert(m == Set((100L, 10L, 48L)), m)
  }

  test("thumbnailMatches rejects maxHamming >= Bands: a frame differing in every band is never a candidate") {
    import spark.implicits._
    val videos = Seq((10L, fixtureAviFrames(10L))).toDF("doc_id", "payload")
    val images = Seq((100L, makeBmp(9, 8, (x, y) => fixtureVidFrameGray(10L, 48, x, y))))
      .toDF("doc_id", "payload")
    intercept[IllegalArgumentException](
      PerceptualDedup.thumbnailMatches(images, videos, maxHamming = Bands))
  }

  test("decodeAviQuality: exact black/frozen counters, inclusive threshold, two-moment rule") {
    // constant-gray frames with hand-chosen levels: black at 5 and at the
    // inclusive 30 edge; frozen at the two exact repeats
    val levels = Array(5, 80, 80, 30, 200, 200)
    val p = makeAvi(4, 4, 6, (f, _, _) => levels(f))
    val Some((nf, black, frozen, lumSum, lumPeak)) = Multimodal.decodeAviQuality(p)
    assert(nf == 6 && black == 2 && frozen == 2)
    assert(lumSum == 16000L * levels.map(_.toLong).sum)
    assert(lumPeak == 16000L * 200)
    // equal SUMS with different pixels are NOT frozen — the sum-of-squares
    // second moment tells a static capture from a re-lit scene: frame 1
    // is constant 10, frame 2 is half 5 / half 15 (same sum, higher sq)
    val tricky = makeAvi(4, 4, 2,
      (f, x, _) => if (f == 0) 10 else if (x % 2 == 0) 5 else 15)
    val Some((_, _, fz2, _, _)) = Multimodal.decodeAviQuality(tricky)
    assert(fz2 == 0, "equal-sum different-pixels frames must not count frozen")
    // fixture closed form == decoder counters (the x146 oracle premise)
    for (id <- Seq(0L, 7L, 123L)) {
      val lv = Array.tabulate(20)(f => fixtureQualityLevel(id, f).toLong)
      val Some((n2, b2, z2, s2, k2)) = Multimodal.decodeAviQuality(fixtureAviQuality(id))
      assert(n2 == 20 && s2 == 16000L * lv.sum && k2 == 16000L * lv.max)
      assert(b2 == lv.count(_ <= 30))
      assert(z2 == (1 until 20).count(f => lv(f) == lv(f - 1)))
    }
  }

  test("mediaHashShingleFrame == mediaHashFrame + videoFrameShingles, both widths") {
    import spark.implicits._
    // the combined one-decode frame must be row-identical to the two
    // separate passes on every modality and fallback path — the drift
    // guard for the --pmedia --ptrim hot-path refactor
    val media = Seq(
      (1L, fixtureBmp(0L)),                      // image (img / img16)
      (2L, fixtureWav(0L)),                      // audio, NO silence: 1 utterance, 0 shingles
      (3L, fixtureAvi(0L)),                      // video (vid / vid16)
      (4L, fixtureAviWide(7L)),                  // wide-sized video (vid both widths)
      (5L, makeAvi(4, 4, 10, (f, _, _) => 40 + f)), // SHORT video: shingles, no bands
      (6L, fixtureBmpWide(5L)),                  // wide-sized image
      (7L, "gibberish".getBytes),                // undecodable
      (8L, fixtureWavUtt(3L)),                   // audio WITH utterances: aud shingles
      (9L, makeWav8(8000, Array.tabulate(40)(j => 128 + 5 * ((j / 9) % 2)))),
      // ^ SHORT clip (40 < 65 samples): no bands at either width, but its
      //   utterances still shingle — the short-video rule, audio side
      (10L, makeAvi(16, 16, 3, (f, x, y) => 30 + f * 40 + x + y))
      // ^ tile-sized video (16x16 px = 2x2 tiles): carries BOTH video
      //   shingle spaces — vid frame bigrams AND vsp per-frame tiles
    ).toDF("doc_id", "payload")
    for (wide <- Seq(false, true)) {
      val combined = mediaHashShingleFrame(media, wide)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "decoded", "mod", "nbytes", "bands").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2), r.getLong(3),
          Option(r.getSeq[Long](4)).map(_.toList)))
        .toSet
      assert(key(combined) == key(mediaHashFrame(media, wide)), s"bands, wide=$wide")
      // shingles == the dedicated modality-detected scan (img tiles +
      // vid frame bigrams, mod-tagged) — which itself equals the two
      // per-modality generators
      val sh = shingleRows(combined)
        .as[(Long, String, Long, Long, Long, Long)].collect().toSet
      val direct = mediaShingles(media)
        .as[(Long, String, Long, Long, Long, Long)].collect().toSet
      assert(sh == direct, s"shingles, wide=$wide")
      val vids = videoFrameShingles(media)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(direct.filter(_._2 == "vid").map(t => (t._1, t._3, t._4, t._5, t._6)) == vids,
        s"vid shingles, wide=$wide")
      val imgs = imageTileShingles(media)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(direct.filter(_._2 == "img").map(t => (t._1, t._3, t._4, t._5, t._6)) == imgs,
        s"img shingles, wide=$wide")
      val auds = audioUtteranceShingles(media)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(direct.filter(_._2 == "aud").map(t => (t._1, t._3, t._4, t._5, t._6)) == auds,
        s"aud shingles, wide=$wide")
      // the utterance fixture and the short clip both contribute aud rows
      assert(auds.exists(_._1 == 8L) && auds.exists(_._1 == 9L))
      // the vsp half (x154): per-frame tile shingles, same one-pass frame
      val vsps = videoFrameTileShingles(media)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(vsps.nonEmpty)
      assert(direct.filter(_._2 == "vsp").map(t => (t._1, t._3, t._4, t._5, t._6)) == vsps,
        s"vsp shingles, wide=$wide")
      // vsp = false reproduces the r14 triad scan (a batch against a
      // pre-vsp state skips the tile accumulation, never discards it)
      val triad = mediaShingles(media, vsp = false)
        .as[(Long, String, Long, Long, Long, Long)].collect().toSet
      assert(triad == direct.filterNot(_._2 == "vsp"), s"triad scan, wide=$wide")
      val combinedTriad = shingleRows(mediaHashShingleFrame(media, wide, vsp = false))
        .as[(Long, String, Long, Long, Long, Long)].collect().toSet
      assert(combinedTriad == triad, s"combined triad, wide=$wide")
    }
  }

  test("audioContainmentPairs: pause-cut excerpt contained; gain evades (known limit); LSH precision") {
    import spark.implicits._
    val media = Seq(
      (1L, fixtureWavUtt(30L)),                       // source (22 utterances)
      (2L, fixtureWavUtt(30L, uttOff = UttDrop)),     // its excerpt, cut mid-separator
      (3L, fixtureWavUtt(95L)),                       // unrelated
      (4L, "junk".getBytes)
    ).toDF("doc_id", "payload")
    val pairs = audioContainmentPairs(media)
      .as[(Long, Long, Long, Long)].collect().toSet
    // excerpt contained at 14/14; the source stays 14/21 BELOW the rule
    assert(pairs.contains((2L, 1L, 14L, 14L)), pairs)
    assert(!pairs.exists(p => p._1 == 1L), pairs)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), pairs)
    // LSH: precision 1.0 by construction (exact verify on candidates)
    val lsh = audioContainmentPairsLsh(media)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(lsh.subsetOf(pairs))
    // KNOWN LIMIT, pinned: a re-GAINED excerpt moves every voiced-core
    // moment — this signal misses it by design (the dHash covers gain,
    // these two cover each other's blind spot)
    def gained(docId: Long, off: Int) = {
      val lead = if (off == 0) Seq.empty[Int] else Seq.fill(4)(128)
      val samples = lead ++ (off until UttCount).zipWithIndex.flatMap {
        case (u, idx) =>
          (if (idx == 0) Seq.empty[Int] else Seq.fill(8)(128)) ++
            Seq.fill(UttLen)(128 + fixtureUttLvl(docId, u) + 10)
      }
      makeWav8(8000, samples.toArray)
    }
    val media2 = Seq((1L, fixtureWavUtt(30L)), (5L, gained(30L, UttDrop)))
      .toDF("doc_id", "payload")
    assert(audioContainmentPairs(media2).count() == 0)
  }

  test("decodeImageTileStats: origin-anchored fixed tiles, exact moments, edge tiles dropped") {
    // 20x11 px at tile=8: tx=2, ty=1 — the right 4-px strip and bottom
    // 3-px strip are DROPPED, not partially summed
    val p = makeBmp(20, 11, (x, y) => x + y)
    val Some((tx, ty, sums, sqs)) = Multimodal.decodeImageTileStats(p, 8)
    assert(tx == 2 && ty == 1)
    def tileMoments(x0: Int) = {
      val ls = for (y <- 0 until 8; x <- x0 until x0 + 8) yield 1000L * (x + y)
      (ls.sum, ls.map(l => l * l).sum)
    }
    assert((sums(0), sqs(0)) == tileMoments(0))
    assert((sums(1), sqs(1)) == tileMoments(8))
    // smaller than one tile, undecodable, invalid tile edge
    assert(Multimodal.decodeImageTileStats(makeBmp(7, 7, (_, _) => 5), 8).isEmpty)
    assert(Multimodal.decodeImageTileStats("junk".getBytes, 8).isEmpty)
    intercept[IllegalArgumentException](
      Multimodal.decodeImageTileStats(p, 0))
  }

  test("imageTileShingles: tile-aligned crops preserved, unaligned crops evade (known limit)") {
    import spark.implicits._
    // source: 6x5 tiles of uniform gray per tile (48x40 px, tile=8)
    def lvl(i: Int, j: Int) = ((i * 31 + j * 17) % 180) + 30
    def img(ti0: Int, tj0: Int, tw: Int, th: Int, px0: Int = 0) =
      makeBmp(tw * 8, th * 8,
        (x, y) => lvl(ti0 + (x + px0) / 8, tj0 + (y + px0) / 8))
    val src = img(0, 0, 6, 5)
    val crop = img(1, 1, 5, 4) // tiles [1..5]x[1..4] — aligned crop
    val media = Seq((1L, src), (2L, crop)).toDF("doc_id", "payload")
    val sh = imageTileShingles(media)
      .as[(Long, Long, Long, Long, Long)].collect()
    val srcSet = sh.filter(_._1 == 1L).map(t => (t._2, t._3, t._4, t._5)).toSet
    val cropSet = sh.filter(_._1 == 2L).map(t => (t._2, t._3, t._4, t._5)).toSet
    // 6x5 tiles -> 5x4 = 20 neighborhoods; 5x4 -> 4x3 = 12, ALL interior
    assert(srcSet.size == 20 && cropSet.size == 12)
    assert(cropSet.subsetOf(srcSet))
    // the containment rule sees it, DIRECTIONALLY
    val pairs = imageCropContainmentPairs(media)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pairs.contains((2L, 1L, 12L, 12L)), pairs) // crop contained in source
    assert(!pairs.exists(p => p._1 == 1L), pairs) // source NOT contained in crop (12/20)
    // the LSH twin: precision 1.0 by construction (every result is
    // exact-verified); recall at J = 12/20 sits mid-curve — whether this
    // particular pair surfaces is a fixed deterministic fact the oracle
    // recomputes identically, not asserted here
    val lsh = imageCropContainmentPairsLsh(media)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(lsh.subsetOf(pairs))
    // KNOWN LIMIT, pinned: a crop offset NOT a multiple of the tile edge
    // shifts every tile boundary — zero shared fingerprints, the evasion
    // is documented (the x142 integral-scale shape), not silent
    val off = makeBmp(40, 32, (x, y) => lvl((x + 3) / 8, (y + 3) / 8))
    val media2 = Seq((1L, src), (3L, off)).toDF("doc_id", "payload")
    val sh2 = imageTileShingles(media2)
      .as[(Long, Long, Long, Long, Long)].collect()
    val offSet = sh2.filter(_._1 == 3L).map(t => (t._2, t._3, t._4, t._5)).toSet
    assert(offSet.intersect(srcSet).isEmpty)
    // a brightened crop moves every moment too — out of scope for this
    // signal (the video trim rule)
    val bright = makeBmp(40, 32, (x, y) => lvl(1 + x / 8, 1 + y / 8) + 10)
    val media3 = Seq((1L, src), (4L, bright)).toDF("doc_id", "payload")
    assert(imageCropContainmentPairs(media3).count() == 0)
  }

  test("videoContainmentPairsLsh: candidates LSH'd, verify exact — precision 1.0") {
    import spark.implicits._
    def avi(img: Long, off: Int, nf: Int, bright: Int = 0) =
      makeAvi(4, 4, nf, (f, _, _) => fixtureFrameVid(img, f + off) + bright)
    val media = Seq(
      (1L, avi(0L, 0, 65)),        // source
      (2L, avi(0L, 10, 55)),       // its trim (J = 54/64 — on the curve)
      (3L, avi(0L, 10, 55, 10)),   // brightened trim: no shared fingerprints
      (4L, avi(15L, 0, 65)),       // unrelated
      (5L, "junk".getBytes)
    ).toDF("doc_id", "payload")
    val exact = PerceptualDedup.videoContainmentPairs(media)
      .as[(Long, Long, Long, Long)].collect().toSet
    val lsh = PerceptualDedup.videoContainmentPairsLsh(media)
      .as[(Long, Long, Long, Long)].collect().toSet
    // every LSH result is exact-verified (precision 1.0 by construction)
    assert(lsh.subsetOf(exact), (lsh -- exact).toString)
    // the common-trim band is found at the default 4x4 geometry
    // (deterministic hash-permutation minhashes — this is a fixed fact,
    // not a probabilistic one)
    assert(lsh.contains((2L, 1L, 54L, 54L)) && lsh.contains((1L, 2L, 54L, 64L)), lsh)
    intercept[IllegalArgumentException](
      PerceptualDedup.videoContainmentPairsLsh(media, k = 10, bands = 4))
  }

  test("admitTrimCompare: retry-doubled state rows never inflate containment") {
    import spark.implicits._
    // shingle frames fed directly: batch doc 1 has 10 distinct
    // fingerprints; cv 100 shares 5 of them (0.5 — under the 0.8 rule),
    // cv 200 shares 9 (0.9 — flagged). Doubling every state row (the
    // crash-window append replay every sidecar documents) must not
    // change either verdict: a naive per-row count would see i = 10 for
    // cv 100 and flip it over the threshold.
    def fp(i: Int) = (i.toLong, i.toLong * 7, i.toLong + 1, i.toLong * 11)
    val batch = (1 to 10).map(i => (1L, fp(i)._1, fp(i)._2, fp(i)._3, fp(i)._4))
      .toDF("doc_id", "s1", "q1", "s2", "q2")
    val state = ((1 to 5).map(i => (100L, fp(i)._1, fp(i)._2, fp(i)._3, fp(i)._4)) ++
      (1 to 9).map(i => (200L, fp(i)._1, fp(i)._2, fp(i)._3, fp(i)._4)))
      .toDF("cv_id", "s1", "q1", "s2", "q2")
    def verdict(st: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      admitTrimCompare(st, batch).select("doc_id", "near_trim").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdict(state) == Map(1L -> true)) // cv 200's 0.9 flags doc 1
    val clean = verdict(state)
    assert(verdict(state.unionByName(state)) == clean,
      "doubled state rows changed a containment verdict")
    // and with cv 200 removed, doc 1 must be clean at 0.5 even doubled
    val half = state.filter(col("cv_id") === 100L)
    assert(verdict(half) == Map(1L -> false))
    assert(verdict(half.unionByName(half)) == Map(1L -> false),
      "doubling flipped a 0.5-containment pair over the 0.8 threshold")
    // BATCH-side duplicates pin the r17 distinct-aggregate rewrite: the
    // per-(doc, mod, cv) intersection count is over DISTINCT matched
    // fingerprints, so duplicated batch rows collapse in `i` (stays 9 for
    // cv 200) while n_sh counts raw rows (20) — the rule then reads
    // 9·5 ≥ 20·4 = false. A per-ROW intersection count would see i = 18
    // and keep the doc flagged; this asserts it doesn't.
    val doubled = admitTrimCompare(state, batch.unionByName(batch))
      .select("doc_id", "n_sh", "near_trim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(doubled == Set((1L, 20L, false)), doubled.toString)
  }

  test("decodeAviSceneCuts: exact cut counting, strict threshold edge, longest run") {
    // hand-built levels: cuts at |delta| > 50 — the 51 jump cuts, the
    // exactly-50 jump does NOT (strict), runs: [3, 2, 4] -> longest 4
    val levels = Array(100, 100, 100, 151, 151, 100, 100, 100, 100)
    //                 run of 3   | +51 cut | -51 cut, run of 4
    val p = makeAvi(4, 4, 9, (f, _, _) => levels(f))
    val Some((nf, cuts, longest)) = Multimodal.decodeAviSceneCuts(p)
    assert(nf == 9 && cuts == 2 && longest == 4)
    // the exactly-threshold edge: a 50-level jump is NOT a cut
    val edge = makeAvi(4, 4, 4, (f, _, _) => if (f < 2) 100 else 150)
    assert(Multimodal.decodeAviSceneCuts(edge).get._2 == 0)
    assert(Multimodal.decodeAviSceneCuts("nope".getBytes).isEmpty)
    // fixture closed form == decoder counters (the x149 oracle premise):
    // replay the run-length rule over the closed-form levels
    for (id <- Seq(0L, 7L, 123L)) {
      val lv = Array.tabulate(30)(f => fixtureSceneLevel(id, f))
      var cuts2 = 0L; var run = 1L; var longest2 = 1L
      for (f <- 1 until 30) {
        if (math.abs(lv(f) - lv(f - 1)) > 50) { cuts2 += 1; run = 1 } else run += 1
        if (run > longest2) longest2 = run
      }
      val Some((_, c2, l2)) = Multimodal.decodeAviSceneCuts(fixtureAviScenes(id))
      assert(c2 == cuts2 && l2 == longest2, s"doc $id")
    }
  }

  test("admitMediaCompare: band-width mismatch rejects loudly, never silently zero-recall") {
    import spark.implicits._
    // craft a candidate collision across widths: state band (j=0, bv=5)
    // meets a classic batch band (j=0, bv=5) — the verify must RAISE, not
    // quietly drop the pair
    val state = Seq((10L, Seq(5L, 6L, 7L, 8L, 9L, 10L, 11L, 12L)))
      .toDF("cv_id", "bands")
    val batch = Seq((20L, Seq(5L, 6L, 7L, 8L))).toDF("doc_id", "bands")
    val e = intercept[Exception](
      admitMediaCompare(state, batch).collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("band-width mismatch")), e.getMessage)
  }

  // ---- the fourth shingle space: video spatial-crop containment (x154/x155) ----

  test("decodeAviFrameTileStats: per-frame tiles bit-identical to the image decoder") {
    // THE cross-modal identity thumbnail provenance rides on: an AVI
    // frame's tile moments must equal the SAME pixels decoded through
    // javax.imageio (pins the bottom-up DIB row mapping — an asymmetric
    // per-frame gray makes a flipped read produce different tiles)
    def g(f: Int, x: Int, y: Int) = ((x * 13 + y * 7 + f * 29) % 200) + 20
    val avi = makeAvi(20, 11, 3, g)
    val Some((tx, ty, fs, fq)) = Multimodal.decodeAviFrameTileStats(avi, 8)
    assert(tx == 2 && ty == 1 && fs.length == 3)
    for (f <- 0 until 3) {
      val Some((itx, ity, is, iq)) =
        Multimodal.decodeImageTileStats(makeBmp(20, 11, (x, y) => g(f, x, y)), 8)
      assert(itx == tx && ity == ty)
      assert(fs(f).sameElements(is) && fq(f).sameElements(iq), s"frame $f")
    }
    // under one tile, undecodable, invalid tile edge
    assert(Multimodal.decodeAviFrameTileStats(makeAvi(7, 7, 2, (_, _, _) => 5), 8).isEmpty)
    assert(Multimodal.decodeAviFrameTileStats("junk".getBytes, 8).isEmpty)
    intercept[IllegalArgumentException](Multimodal.decodeAviFrameTileStats(avi, 0))
  }

  test("decodeAviFrameStatsTiles == decodeAviFrameStats + decodeAviFrameTileStats") {
    // the one-pass combined decode must be bit-identical to the separate
    // decoders on BOTH halves (the decodeImageBlocksTiles rule, video twin)
    def g(f: Int, x: Int, y: Int) = ((x * 11 + y * 23 + f * 41) % 210) + 15
    val avi = makeAvi(20, 11, 3, g)
    val Some((cs, cq, tx, ty, cts, ctq)) = Multimodal.decodeAviFrameStatsTiles(avi, 8)
    val Some((_, _, ss, sq)) = Multimodal.decodeAviFrameStats(avi)
    val Some((stx, sty, sts, stq)) = Multimodal.decodeAviFrameTileStats(avi, 8)
    assert(cs.sameElements(ss) && cq.sameElements(sq))
    assert(tx == stx && ty == sty)
    assert(cts.indices.forall(f => cts(f).sameElements(sts(f)) && ctq(f).sameElements(stq(f))))
    // frames under one tile: frame stats present, no tile grids (tx = 0)
    val tiny = makeAvi(4, 4, 2, (f, x, y) => g(f, x, y))
    val Some((ts, _, ttx, tty, tfs, _)) = Multimodal.decodeAviFrameStatsTiles(tiny, 8)
    assert(ts.length == 2 && ttx == 0 && tty == 0 && tfs.isEmpty)
    assert(Multimodal.decodeAviFrameStatsTiles("junk".getBytes, 8).isEmpty)
  }

  test("videoFrameTileShingles: tile-aligned spatial crop contained, evasions pinned") {
    import spark.implicits._
    // source: 3 frames of 6x5 tiles (48x40 px); the spatial crop drops
    // the first tile row AND column of EVERY frame — the letterbox-strip
    // re-render both temporal signals miss by design. Levels are
    // INJECTIVE in (f, i, j) so the expected distinct counts are exact
    // (a colliding closed form would exercise — correctly — the
    // cross-frame distinct and shrink the sets)
    def lvl(f: Int, i: Int, j: Int) = f * 30 + j * 6 + i + 30
    def vid(ti0: Int, tw: Int, th: Int, nf: Int, f0: Int = 0, bright: Int = 0) =
      makeAvi(tw * 8, th * 8, nf,
        (f, x, y) => lvl(f0 + f, ti0 + x / 8, ti0 + y / 8) + bright)
    val src = vid(0, 6, 5, 3)
    val crop = vid(1, 5, 4, 3)
    val media = Seq((1L, src), (2L, crop)).toDF("doc_id", "payload")
    val sh = videoFrameTileShingles(media)
      .as[(Long, Long, Long, Long, Long)].collect()
    val srcSet = sh.filter(_._1 == 1L).map(t => (t._2, t._3, t._4, t._5)).toSet
    val cropSet = sh.filter(_._1 == 2L).map(t => (t._2, t._3, t._4, t._5)).toSet
    // 3 frames x (5x4) = 60 distinct neighborhoods; crop: 3 x (4x3) = 36
    assert(srcSet.size == 60 && cropSet.size == 36)
    assert(cropSet.subsetOf(srcSet))
    val pairs = videoSpatialContainmentPairs(media)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pairs.contains((2L, 1L, 36L, 36L)), pairs) // crop contained at 1.0
    assert(!pairs.exists(_._1 == 1L), pairs) // source not contained (36/60)
    val lsh = videoSpatialContainmentPairsLsh(media)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(lsh.subsetOf(pairs)) // precision 1.0 by construction
    // the two video spaces COMPOSE: a crop that also TRIMS (drops frame 0)
    // is still contained — 2 frames x 12 = 24 fingerprints, all in src
    val cropTrim = vid(1, 5, 4, 2, f0 = 1)
    val mediaCT = Seq((1L, src), (3L, cropTrim)).toDF("doc_id", "payload")
    val pairsCT = videoSpatialContainmentPairs(mediaCT)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pairsCT.contains((3L, 1L, 24L, 24L)), pairsCT)
    // KNOWN LIMITS, pinned from the evasion side: a non-multiple-of-8
    // offset shifts every tile boundary (zero shared fingerprints); a
    // re-brightened crop moves every moment
    val off = makeAvi(40, 32, 3, (f, x, y) => lvl(f, (x + 3) / 8, (y + 3) / 8))
    val sh2 = videoFrameTileShingles(Seq((4L, off)).toDF("doc_id", "payload"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => (t._2, t._3, t._4, t._5)).toSet
    assert(sh2.intersect(srcSet).isEmpty)
    val bright = vid(1, 5, 4, 3, bright = 10)
    assert(videoSpatialContainmentPairs(
      Seq((1L, src), (5L, bright)).toDF("doc_id", "payload")).count() == 0)
    // cross-frame DISTINCT: a static clip (identical frames) carries one
    // frame's worth of fingerprints, not nFrames x
    val static = makeAvi(48, 40, 3, (_, x, y) => lvl(0, x / 8, y / 8))
    val shS = videoFrameTileShingles(Seq((6L, static)).toDF("doc_id", "payload"))
    assert(shS.count() == 20)
  }

  test("admitTrimStrictLosers: two-space videos — winner never demoted, per-space rule") {
    import spark.implicits._
    def rows(id: Long, mod: String, tag: Long, n: Int) =
      (0 until n).map(i => (id, mod, tag * 1000 + i, 1L, tag * 1000 + i + 1, 1L))
    // a source video carries vid (5 bigrams) + vsp (40 tiles) rows; its
    // SPATIAL crop shares 36/36 vsp fingerprints but zero vid ones (a
    // crop moves every whole-frame moment). The keep-best rank must be
    // per DOC (total fingerprints), not per (doc, mod): a per-row rank
    // would emit the WINNER's vid row as a loser and the status fold
    // would demote the kept source — the cluster ships no admitted
    // representative (the self-review finding this test pins).
    val sh = (rows(1L, "vid", 1, 5) ++ rows(1L, "vsp", 2, 40) ++
      rows(2L, "vid", 3, 5) ++ rows(2L, "vsp", 2, 36))
      .toDF("doc_id", "mod", "s1", "q1", "s2", "q2")
    val losers = admitTrimStrictLosers(sh).as[(Long, String)].collect().toSet
    // the crop loses (fewer total fingerprints), labeled by the space
    // that LINKED it — vsp, never vtrim (name-the-signal)
    assert(losers == Set((2L, "vsp")), losers)
    // per-space qualification: docs sharing ~50% in EACH space must not
    // pair — the pooled form summed i across spaces (25) against ONE
    // space's least-size (10) and crossed a 0.8 bar no space meets
    val sh2 = (rows(3L, "vid", 5, 10) ++ rows(3L, "vsp", 6, 40) ++
      rows(4L, "vid", 5, 5) ++ rows(4L, "vid", 7, 5) ++
      rows(4L, "vsp", 6, 20) ++ rows(4L, "vsp", 8, 20))
      .toDF("doc_id", "mod", "s1", "q1", "s2", "q2")
    assert(admitTrimStrictLosers(sh2).count() === 0L)
  }

  test("shingle-state meta: spaces recorded, geometry mismatch raises, layout fallbacks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shmeta").toString
    // bootstrap contract: meta records every space + this build's geometry
    writeShingleMeta(spark, s"$dir/ok")
    val dummy = Seq((1L, "vid", 1L, 1L, 2L, 2L))
      .toDF("cv_id", "mod", "s1", "q1", "s2", "q2")
    assert(stateShingleSpaces(spark, s"$dir/ok", dummy) ==
      Seq("img", "aud", "vid", "vsp", "rs2", "rs4"))
    assert(AdmitShingleSpaces == Seq("img", "aud", "vid", "vsp", "rs2", "rs4"))
    // a state shingled at a different geometry must raise LOUDLY — a
    // silent cross-geometry compare would never match (the r14-ADVICE
    // tile-parameter finding, closed by recording + validating)
    writeShingleMeta(spark, s"$dir/bad", tile = 16)
    val e = intercept[IllegalArgumentException](
      stateShingleSpaces(spark, s"$dir/bad", dummy))
    assert(e.getMessage.contains("geometry mismatch"), e.getMessage)
    // meta-less states keep their historical contracts by layout:
    // pre-mod → video-only; r14 mod-tagged → the triad (no vsp)
    assert(stateShingleSpaces(spark, s"$dir/absent",
      dummy.drop("mod")) == Seq("vid"))
    assert(stateShingleSpaces(spark, s"$dir/absent", dummy) == TriadSpaces)
  }

  test("thumbnailContainmentPairs: cropped thumbnail found per frame — x148's blind spot") {
    import spark.implicits._
    def lvl(f: Int, i: Int, j: Int) = ((f * 53 + i * 31 + j * 17) % 180) + 30
    val vids = Seq(
      (1L, makeAvi(48, 40, 3, (f, x, y) => lvl(f, x / 8, y / 8))),
      (2L, makeAvi(48, 40, 3, (f, x, y) => lvl(f + 7, x / 8, y / 8)))) // unrelated
      .toDF("doc_id", "payload")
    // cropped thumbnail of vid 1's frame 1 (tiles 1..5 x 1..4) + a
    // full-frame thumbnail of frame 2 + an unrelated image
    val thumbs = Seq(
      (100L, makeBmp(40, 32, (x, y) => lvl(1, 1 + x / 8, 1 + y / 8))),
      (101L, makeBmp(48, 40, (x, y) => lvl(2, x / 8, y / 8))),
      (102L, makeBmp(48, 40, (x, y) => lvl(99, x / 8, y / 8))))
      .toDF("doc_id", "payload")
    val exact = thumbnailContainmentPairs(thumbs, vids)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(exact.contains((100L, 1L, 1L, 12L, 12L)), exact) // the crop, per-frame
    assert(exact.contains((101L, 1L, 2L, 20L, 20L)), exact) // the full frame
    assert(!exact.exists(_._1 == 102L), exact)
    assert(!exact.exists(_._2 == 2L), exact)
    // the LSH twin: subset of exact (precision 1.0); the FULL-frame
    // re-post (J = 1.0) is always found at any geometry
    val lsh = thumbnailContainmentPairsLsh(thumbs, vids)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((101L, 1L, 2L, 20L, 20L)), lsh)
    // x148's exact bipartite dHash does NOT see the cropped thumbnail
    // (every block boundary moved) — the blind spot x155 exists for; it
    // DOES see the full-frame re-post (the two operators compose)
    val x148 = thumbnailMatches(thumbs, vids, every = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(!x148.exists(_._1 == 100L), x148)
    assert(x148.contains((101L, 1L, 2L)), x148)
    intercept[IllegalArgumentException](
      thumbnailContainmentPairsLsh(thumbs, vids, k = 10, bands = 4))
  }

  test("resizedCropContainmentPairs: resized crops contained per scale; evasions pinned") {
    import spark.implicits._
    // fixture closed forms through the REAL chain: a 2x-resized
    // 16-px-aligned crop and a 4x-resized 32-px-aligned crop of the
    // 128x96 original are contained in its scale-2/scale-4 fingerprint
    // sets; an unrelated image matches nothing
    val media = Seq(
      (1L, fixtureRcropBmp(1L, 0)),
      (2L, fixtureRcropBmp(1L, 2)),
      (3L, fixtureRcropBmp(1L, 4)),
      (9L, fixtureRcropBmp(9L, 0)))
      .toDF("doc_id", "payload")
    val exact = resizedCropContainmentPairs(media)
      .as[(Long, Long, Int, Long, Long)].collect().toSet
    assert(exact.contains((2L, 1L, 2, 24L, 24L)), exact)
    assert(exact.contains((3L, 1L, 4, 2L, 2L)), exact)
    assert(!exact.exists(r => r._1 == 9L || r._1 == 1L), exact)
    // the LSH twin: subset of exact (precision 1.0 — verify is exact on
    // candidates); the 2x crop's J = 24/35 sits comfortably on the
    // recall-leaning 8x2 curve
    val lsh = resizedCropContainmentPairsLsh(media)
      .as[(Long, Long, Int, Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((2L, 1L, 2, 24L, 24L)), lsh)
    // EVASIONS, pinned from the adversary's side.
    // (a) the framing rule one scale up: a crop at a cell offset NOT a
    // multiple of tile*k (here 8 px = one cell, not 16) lands every
    // 2x-super-tile window at odd cell parity — zero shared fingerprints
    val cropOdd = makeBmp((RcropFineX - 2) * 4, (RcropFineY - 2) * 4,
      (u, v) => fixtureRcropLvl(1L, 1 + u / 4, 1 + v / 4))
    // (b) the brightness rule: a re-brightened resized crop moves every
    // moment
    val cropBright = makeBmp((RcropFineX - 2) * 4, (RcropFineY - 2) * 4,
      (u, v) => fixtureRcropLvl(1L, 2 + u / 4, 2 + v / 4) + 10)
    val evading = media.unionByName(
      Seq((20L, cropOdd), (21L, cropBright)).toDF("doc_id", "payload"))
    val exact2 = resizedCropContainmentPairs(evading)
      .as[(Long, Long, Int, Long, Long)].collect().toSet
    assert(!exact2.exists(r => r._1 == 20L || r._1 == 21L), exact2)
    // (c) the canonical-set rule: a 3x rescale has no rs3 space — a
    // 3x-resized crop shares nothing with any emitted scale level. Built
    // on 24-px cells so the 3x downscale is exact (cells stay constant).
    def g3(i: Int, j: Int) = ((i * 41 + j * 13) % 181) + 30
    val orig24 = makeBmp(144, 96, (x, y) => g3(x / 24, y / 24))
    val crop3x = makeBmp(40, 24, (u, v) => g3(1 + u / 8, 1 + v / 8))
    val ev3 = resizedCropContainmentPairs(
      Seq((30L, orig24), (31L, crop3x)).toDF("doc_id", "payload"))
      .as[(Long, Long, Int, Long, Long)].collect().toSet
    assert(!ev3.exists(r => r._1 == 31L && r._2 == 30L), ev3)
    // the producer emits exactly the declared scale levels
    val scales = imageMultiScaleTileShingles(media)
      .select("scale").distinct().as[Int].collect().toSet
    assert(scales == (Set(1) ++ RescaleSet), scales)
  }

  test("admitTrimStrictLosers: bipartite rescale leg — crop loses to its full-canvas source") {
    import spark.implicits._
    def rows(id: Long, mod: String, tag: Long, n: Int) =
      (0 until n).map(i => (id, mod, tag * 1000 + i, 1L, tag * 1000 + i + 1, 1L))
    // source doc 1: 100 native img fingerprints + 30 scaled rs2 ones;
    // crop doc 2: its 24 native fingerprints are a SUBSET of the
    // source's rs2 set (the x156 relationship) and its own rs2 set is
    // unrelated. The bipartite leg must link them (native-in-scaled),
    // the CC keep-best must keep the source (more total fingerprints),
    // and the loser label must name the LINKING space (rs2)
    val sh = (rows(1L, "img", 1, 100) ++ rows(1L, "rs2", 2, 30) ++
      rows(2L, "img", 2, 24) ++ rows(2L, "rs2", 3, 2))
      .toDF("doc_id", "mod", "s1", "q1", "s2", "q2")
    val losers = admitTrimStrictLosers(sh).as[(Long, String)].collect().toSet
    assert(losers == Set((2L, "rs2")), losers)
    // directional denominator: a doc sharing only HALF its native set
    // with another's scaled set stays under the 0.8 bar — no pair
    val sh2 = (rows(3L, "img", 5, 100) ++ rows(3L, "rs2", 6, 30) ++
      rows(4L, "img", 6, 60) ++ rows(4L, "img", 7, 60))
      .toDF("doc_id", "mod", "s1", "q1", "s2", "q2")
    assert(admitTrimStrictLosers(sh2).count() === 0L)
    // rs rows never enter the SYMMETRIC qualification: two docs with
    // overlapping SCALED sets but disjoint native sets must not pair
    val sh3 = (rows(5L, "img", 8, 50) ++ rows(5L, "rs2", 9, 30) ++
      rows(6L, "img", 10, 50) ++ rows(6L, "rs2", 9, 30))
      .toDF("doc_id", "mod", "s1", "q1", "s2", "q2")
    assert(admitTrimStrictLosers(sh3).count() === 0L)
  }
}
