package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming admission: the foreachBatch/sig-state pipeline must classify
  * byte-identically to the batch verb (`Cli admit --sigs --strict`) run day
  * by day over the same batch sequence — same state currency, same
  * decision rule, pinned through the hash-verified report rows — and the
  * MemoryStream wiring must route every status end-to-end.
  */
class StreamingAdmitSpec extends SparkSpec {
  import spark.implicits._

  private val novel1 = "the estuary gauge recorded eleven spring tides before the survey"
  private val novel2 = "a ledger of replacement lamp wicks issued to the canal keepers"
  private val novel3 = "winter fodder allocations for the upland grazing commons by parish"
  private val novel4 = "an index of misfiled harbor dues receipts recovered from the annex"

  private def b1 = Seq(
    (1L, novel1, "s"), // admitted (first arrival of novel1 by hash order or id)
    (2L, novel1, "s"), // exact intra-batch dup of 1
    (3L, novel2, "s")  // admitted
  ).toDF("doc_id", "text", "source")

  private def b2 = Seq(
    (11L, novel1, "s"),         // exact dup of day-1 state
    (12L, novel2 + " zq", "s"), // near-dup of day-1 state
    (13L, novel3, "s"),         // near PAIR with 14 — strict keeps one
    (14L, novel3 + " zr", "s"),
    (15L, novel4, "s")          // fresh
  ).toDF("doc_id", "text", "source")

  private def reportKey(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.select("status", "n_docs", "checksum").as[(String, Long, Long)].collect().toSet

  test("sequential admit == Cli admit --sigs --strict day by day (report-checksum parity)") {
    // both folds: strict (the stream's default) and non-strict (`Cli admit`
    // without --strict), each on fresh state
    for (strict <- Seq(true, false)) {
      val base = tmpDir(s"stream-admit-$strict")
      val statePath = new java.io.File(base, "state").getPath
      val reportPath = new java.io.File(base, "report").getPath

      val a1 = StreamingAdmit.admit(spark, b1, statePath, strict = strict,
        reportPath = Some(reportPath), batchId = 0L)
      // the exact intra-batch rule admits the HASH-ORDER first arrival of
      // novel1 (1 or 2) plus novel2's doc
      val ids1 = a1.select("doc_id").as[Long].collect().toSet
      assert(ids1.size === 2 && ids1.contains(3L) && (ids1 - 3L).subsetOf(Set(1L, 2L)))

      val a2 = StreamingAdmit.admit(spark, b2, statePath, strict = strict,
        reportPath = Some(reportPath), batchId = 1L)
      val ids2 = a2.select("doc_id").as[Long].collect().toSet
      // 11 exact-state dup, 12 near-state dup, 13/14 strict keeps the CC
      // min (13) — without strict both pass — 15 fresh
      assert(ids2 === (if (strict) Set(13L, 15L) else Set(13L, 14L, 15L)))
      // state = admitted docs only, across both days
      val state = spark.read.parquet(statePath).select("doc_id").as[Long].collect().toSet
      assert(state === ids1 ++ ids2)

      // the batch verb, run day by day on the SAME batches with a fresh
      // sidecar, must produce the identical hash-verified reports
      val emptyCorpus = b1.filter(lit(false))
      val corpusPath = new java.io.File(base, "corpus.parquet").getPath
      val b1Path = new java.io.File(base, "b1.parquet").getPath
      val b2Path = new java.io.File(base, "b2.parquet").getPath
      emptyCorpus.write.parquet(corpusPath)
      b1.write.parquet(b1Path)
      b2.write.parquet(b2Path)
      val sigs2 = new java.io.File(base, "sigs2").getPath
      def cli(batchPath: String, out: String): Unit = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf)) {
          assert(graft.Cli.run(spark, List(
            "admit", corpusPath, batchPath, out, "--sigs", sigs2) ++
            (if (strict) List("--strict") else Nil)) === 0)
        }
      }
      cli(b1Path, new java.io.File(base, "o1").getPath)
      cli(b2Path, new java.io.File(base, "o2").getPath)
      val streamed = spark.read.parquet(reportPath)
      assert(reportKey(streamed.filter(col("batch_id") === 0L)) ===
        reportKey(spark.read.parquet(new java.io.File(base, "o1").getPath + "/report")))
      assert(reportKey(streamed.filter(col("batch_id") === 1L)) ===
        reportKey(spark.read.parquet(new java.io.File(base, "o2").getPath + "/report")))
      // and the sidecars agree doc-for-doc
      val cliState = spark.read.parquet(sigs2).select("doc_id").as[Long].collect().toSet
      assert(cliState === state)
    }
  }

  test("sequential admit == Cli admit --sigs --strict --emb --esigs day by day (full parity)") {
    val base = tmpDir("stream-admit-emb")
    val corpusEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 100)
    // two novel vectors, near nothing in this near-isotropic corpus:
    // A = -vec3, B = -vec7 (cosine ≈ -1 to their twins, ≈ 0 elsewhere)
    def neg(id: Long) = corpusEmb.filter(col("vec_id") === id)
      .select(lit(0L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"), col("label"))
    def vecAs(src: org.apache.spark.sql.DataFrame, ids: Long*) =
      ids.map(i => src.withColumn("vec_id", lit(i))).reduce(_ unionByName _)
    val vA = neg(3L)
    val vB = neg(7L)
    // day 1: docs 1/2 exact text dups (one admits) both carrying vector A;
    // doc 3 vectorless (passes the emb leg, its TEXT must enter the state)
    val b1e = vecAs(vA, 1L, 2L)
    // day 2: 11 exact-state text dup; 12 near-state text; 13/14 intra-batch
    // text pair (13 survives); 15 fresh text but vector A — a REWORDING of
    // day-1's admitted content, must flag off the APPENDED state; 16/17
    // fresh texts both vector B — intra-batch emb pair, 16 survives
    val b2x = b2.unionByName(Seq(
      (16L, "an almanac of quarry blasting schedules filed with the parish clerk", "s"),
      (17L, "the very same quarry blasting almanac retold in other words", "s"))
      .toDF("doc_id", "text", "source"))
    val b2e = vecAs(vA, 15L).unionByName(vecAs(vB, 16L, 17L))

    // stream-side state: sig state fresh; emb state bootstrapped exactly
    // as the Cli bootstraps it (same frame, same sample) — frozen cells
    // are deterministic, so both surfaces share the cell geometry
    val statePath = new java.io.File(base, "state").getPath
    val esigsS = new java.io.File(base, "esigsS").getPath
    graft.xscale.Similarity.admitEmbeddingBootstrapAuto(corpusEmb, esigsS, trainSample = 0.1)
    val reportPath = new java.io.File(base, "report").getPath
    val outPath = new java.io.File(base, "out").getPath
    StreamingAdmit.admit(spark, b1, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 0L,
      esigsPath = Some(esigsS), batchEmb = Some(b1e), outPath = Some(outPath))
    StreamingAdmit.admit(spark, b2x, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 1L,
      esigsPath = Some(esigsS), batchEmb = Some(b2e), outPath = Some(outPath))

    // day-2 statuses: every bucket carries data
    val rep2 = spark.read.parquet(reportPath).filter(col("batch_id") === 1L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep2 === Map(
      "dup_exact_corpus" -> 1L, "near_dup_corpus" -> 1L, "near_dup_batch" -> 1L,
      "near_dup_corpus_emb" -> 1L, "near_dup_batch_emb" -> 1L, "admitted" -> 2L))
    val out = spark.read.parquet(outPath).select("doc_id").as[Long].collect().toSet
    assert(out.contains(13L) && out.contains(16L) && !out.contains(15L) && !out.contains(17L))

    // the batch verb over the SAME days with fresh sidecars
    val emptyCorpus = b1.filter(lit(false))
    val corpusPath = new java.io.File(base, "corpus.parquet").getPath
    val cePath = new java.io.File(base, "ce.parquet").getPath
    emptyCorpus.write.parquet(corpusPath)
    corpusEmb.write.parquet(cePath)
    val sigsC = new java.io.File(base, "sigsC").getPath
    val esigsC = new java.io.File(base, "esigsC").getPath
    def cli(bdf: org.apache.spark.sql.DataFrame, bedf: org.apache.spark.sql.DataFrame,
        tag: String): String = {
      val bPath = new java.io.File(base, s"b$tag.parquet").getPath
      val bePath = new java.io.File(base, s"be$tag.parquet").getPath
      bdf.write.parquet(bPath)
      bedf.write.parquet(bePath)
      val out = new java.io.File(base, s"o$tag").getPath
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) {
        assert(graft.Cli.run(spark, List(
          "admit", corpusPath, bPath, out, "--sigs", sigsC, "--strict",
          "--emb", cePath, "--bemb", bePath, "--esigs", esigsC)) === 0)
      }
      out
    }
    val o1 = cli(b1, b1e, "1")
    val o2 = cli(b2x, b2e, "2")
    val streamed = spark.read.parquet(reportPath)
    assert(reportKey(streamed.filter(col("batch_id") === 0L)) ===
      reportKey(spark.read.parquet(s"$o1/report")))
    assert(reportKey(streamed.filter(col("batch_id") === 1L)) ===
      reportKey(spark.read.parquet(s"$o2/report")))
    // sidecars agree doc-for-doc on BOTH legs
    assert(spark.read.parquet(statePath).select("doc_id").as[Long].collect().toSet ===
      spark.read.parquet(sigsC).select("doc_id").as[Long].collect().toSet)
    assert(spark.read.parquet(s"$esigsS/assign")
      .select("cv_id", "cid").as[(Long, Long)].collect().toSet ===
      spark.read.parquet(s"$esigsC/assign")
        .select("cv_id", "cid").as[(Long, Long)].collect().toSet)
  }

  test("sequential admit == Cli admit --pmedia --ptrim day by day (media+trim parity)") {
    import graft.xscale.PerceptualDedup
    val base = tmpDir("stream-admit-media-parity")
    def trim(img: Long, from: Int) = PerceptualDedup.makeAvi(4, 4,
      PerceptualDedup.VideoWindows - from,
      (f, _, _) => PerceptualDedup.fixtureFrameVid(img, f + from))
    val corpusMedia = ((0L to 3L).map(i => (i, PerceptualDedup.fixtureBmp(i * 5))) ++
      (4L to 6L).map(i => (i, PerceptualDedup.fixtureWav(i * 5))) ++
      (7L to 9L).map(i => (i, PerceptualDedup.fixtureAvi(i * 5))) :+
      ((10L, PerceptualDedup.fixtureAviTiles(10L * 5, 0))))
      .toDF("doc_id", "payload")
    // day 1: 41 brightened re-encode of corpus IMAGE 2; 42 TRIM of corpus
    // video 8 (band leg blind — only --ptrim flags it); 43/44 a novel
    // video + its 2x re-render arriving together (band strict pair;
    // fingerprints differ by the x4 sum scale, so the trim leg stays out
    // of it); 45 fresh video; 46 SPATIAL CROP of corpus tiled video 10
    // (the vsp space — both temporal signals blind, x154)
    val d1 = Seq((41L, novel1, "s"), (42L, novel2, "s"), (43L, novel3, "s"),
      (44L, novel4, "s"),
      (45L, "a gazetteer of disused towpath mileposts west of the junction", "s"),
      (46L, "minutes of the quarterly dredging committee for the upper reach", "s"))
      .toDF("doc_id", "text", "source")
    val d1m = Seq(
      (41L, PerceptualDedup.fixtureBmpShift(2L * 5, 16)),
      (42L, trim(8L * 5, 10)),
      (43L, PerceptualDedup.fixtureAvi(4343L * 5)),
      (44L, PerceptualDedup.fixtureAvi2x(4343L * 5)),
      (45L, PerceptualDedup.fixtureAvi(4545L * 5)),
      (46L, PerceptualDedup.fixtureAviTiles(10L * 5, 1))).toDF("doc_id", "payload")
    // day 2: 51 = trim of day-1-admitted 45 (off the APPENDED shingles);
    // 52 = brightened re-encode of 45 (off the APPENDED bands)
    val d2 = Seq(
      (51L, "the register of sluice paddle replacements for the east lock", "s"),
      (52L, "an inventory of unclaimed ferry tokens held by the harbourmaster", "s"))
      .toDF("doc_id", "text", "source")
    val d2m = Seq(
      (51L, trim(4545L * 5, 20)),
      (52L, PerceptualDedup.fixtureAviShift(4545L * 5, 10))).toDF("doc_id", "payload")

    // STREAM side: state bootstrapped exactly as `Cli admit --psigs
    // --ptrim` run 1 writes it (deterministic hashes — both surfaces
    // derive identical states from the same corpus media)
    val statePath = new java.io.File(base, "state").getPath
    val psigsS = new java.io.File(base, "psigsS").getPath
    PerceptualDedup.writeBandMeta(spark, s"$psigsS/meta", wide = false)
    PerceptualDedup.mediaHashFrame(corpusMedia).filter(col("decoded"))
      .select(col("doc_id").as("cv_id"), col("mod"), col("bands"))
      .write.parquet(s"$psigsS/bands")
    // the mod-tagged layout Cli run 1 writes TODAY (mediaShingles with
    // the vsp space + the shmeta sidecar — the legacy pre-mod and r14
    // meta-less layouts have their own dedicated specs)
    PerceptualDedup.writeShingleMeta(spark, s"$psigsS/shmeta")
    PerceptualDedup.mediaShingles(corpusMedia)
      .withColumnRenamed("doc_id", "cv_id")
      .write.parquet(s"$psigsS/shingles")
    val reportPath = new java.io.File(base, "report").getPath
    val outPath = new java.io.File(base, "out").getPath
    StreamingAdmit.admit(spark, d1, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 0L,
      psigsPath = Some(psigsS), batchMedia = Some(d1m), outPath = Some(outPath),
      ptrim = true)
    StreamingAdmit.admit(spark, d2, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 1L,
      psigsPath = Some(psigsS), batchMedia = Some(d2m), outPath = Some(outPath),
      ptrim = true)
    val rep1 = spark.read.parquet(reportPath).filter(col("batch_id") === 0L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep1 === Map("admitted" -> 2L, "near_dup_corpus_img" -> 1L,
      "near_dup_corpus_vtrim" -> 1L, "near_dup_batch_vid" -> 1L,
      "near_dup_corpus_vcrop" -> 1L))
    val rep2s = spark.read.parquet(reportPath).filter(col("batch_id") === 1L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep2s === Map("near_dup_corpus_vtrim" -> 1L, "near_dup_corpus_vid" -> 1L))

    // BATCH verb over the SAME days with its own fresh sidecars
    val emptyCorpus = d1.filter(lit(false))
    val corpusPath = new java.io.File(base, "corpus.parquet").getPath
    val cmPath = new java.io.File(base, "cm.parquet").getPath
    emptyCorpus.write.parquet(corpusPath)
    corpusMedia.write.parquet(cmPath)
    val sigsC = new java.io.File(base, "sigsC").getPath
    val psigsC = new java.io.File(base, "psigsC").getPath
    def cli(bdf: org.apache.spark.sql.DataFrame, bmdf: org.apache.spark.sql.DataFrame,
        tag: String): String = {
      val bPath = new java.io.File(base, s"b$tag.parquet").getPath
      val bmPath = new java.io.File(base, s"bm$tag.parquet").getPath
      bdf.write.parquet(bPath)
      bmdf.write.parquet(bmPath)
      val out = new java.io.File(base, s"o$tag").getPath
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) {
        assert(graft.Cli.run(spark, List(
          "admit", corpusPath, bPath, out, "--sigs", sigsC, "--strict",
          "--pmedia", cmPath, "--bmedia", bmPath, "--psigs", psigsC,
          "--ptrim")) === 0)
      }
      out
    }
    val o1 = cli(d1, d1m, "1")
    val o2 = cli(d2, d2m, "2")
    val streamed = spark.read.parquet(reportPath)
    assert(reportKey(streamed.filter(col("batch_id") === 0L)) ===
      reportKey(spark.read.parquet(s"$o1/report")))
    assert(reportKey(streamed.filter(col("batch_id") === 1L)) ===
      reportKey(spark.read.parquet(s"$o2/report")))
    // sidecars agree doc-for-doc: bands (id, mod) and shingle rows
    assert(spark.read.parquet(s"$psigsS/bands")
      .select("cv_id", "mod").as[(Long, String)].collect().toSet ===
      spark.read.parquet(s"$psigsC/bands")
        .select("cv_id", "mod").as[(Long, String)].collect().toSet)
    assert(spark.read.parquet(s"$psigsS/shingles")
      .select("cv_id", "s1", "q1", "s2", "q2").as[(Long, Long, Long, Long, Long)]
      .collect().toSet ===
      spark.read.parquet(s"$psigsC/shingles")
        .select("cv_id", "s1", "q1", "s2", "q2").as[(Long, Long, Long, Long, Long)]
        .collect().toSet)
  }

  test("replay after a crash between out-write and state-append duplicates, never loses") {
    // the write-order pin: out lands BEFORE the state append, so a replayed
    // micro-batch re-admits and re-appends — duplicated output rows
    // (compactable by doc_id), NOT silently lost ones. Simulate the replay
    // by running the same batch twice with the state manually rolled back.
    val base = tmpDir("stream-admit-replay")
    val statePath = new java.io.File(base, "state").getPath
    val outPath = new java.io.File(base, "out").getPath
    StreamingAdmit.admit(spark, b1, statePath, outPath = Some(outPath))
    val stateAfter = spark.read.parquet(statePath).collect()
    // roll the state back to empty (as if the crash hit before the append)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(statePath)).deleteRecursively()
    StreamingAdmit.admit(spark, b1, statePath, outPath = Some(outPath))
    // output: the admitted docs appear TWICE (duplicated, not lost)
    val outIds = spark.read.parquet(outPath).select("doc_id").as[Long].collect().toSeq
    assert(outIds.size === 4 && outIds.distinct.size === 2)
    // state converged to the same admitted set
    assert(spark.read.parquet(statePath).collect().map(_.getLong(0)).toSet ===
      stateAfter.map(_.getLong(0)).toSet)
  }

  test("write order pinned by fault injection: sig append is LAST — out and assign landed") {
    // the sig append is what flips a replayed batch to dup_exact_corpus,
    // so every write that must still happen on replay (output rows, emb
    // assign vectors) has to PRECEDE it. Inject a real failure at the sig
    // append (its parent path is a plain file, so the parquet write cannot
    // create the directory) and assert the earlier writes already landed:
    // a crash in this window replays into benign duplication (the media
    // bands and containment shingles ride the same rule). The reverse
    // order would leave the assign table permanently missing the admitted
    // vectors — tomorrow's rewording of that content would never flag
    // near_dup_corpus_emb.
    val base = tmpDir("stream-admit-order")
    val corpusEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 100)
    val esigs = new java.io.File(base, "esigs").getPath
    graft.xscale.Similarity.admitEmbeddingBootstrapAuto(corpusEmb, esigs, trainSample = 0.1)
    val assignBefore = spark.read.parquet(s"$esigs/assign").count()
    // media bands state: 10 distinct corpus images
    import graft.xscale.PerceptualDedup
    val psigs = new java.io.File(base, "psigs").getPath
    PerceptualDedup.imageHashFrame(
      (100L to 109L).map(i => (i, PerceptualDedup.fixtureBmp(i * 5))).toDF("doc_id", "payload"))
      .filter(col("decoded"))
      .select(col("doc_id").as("cv_id"), col("bands"))
      .write.parquet(s"$psigs/bands")
    val bandsBefore = spark.read.parquet(s"$psigs/bands").count()
    // containment shingle state (the ptrim leg): mod-tagged, with its meta
    PerceptualDedup.writeShingleMeta(spark, s"$psigs/shmeta")
    PerceptualDedup.mediaShingles(
      (100L to 102L).map(i => (i, PerceptualDedup.fixtureRcropBmp(i * 7, 0)))
        .toDF("doc_id", "payload"),
      rscales = PerceptualDedup.RescaleSet)
      .withColumnRenamed("doc_id", "cv_id")
      .write.parquet(s"$psigs/shingles")
    val shinglesBefore = spark.read.parquet(s"$psigs/shingles").count()
    val blocker = new java.io.File(base, "blocker")
    java.nio.file.Files.writeString(blocker.toPath, "not a directory")
    val statePath = new java.io.File(blocker, "state").getPath
    val outPath = new java.io.File(base, "out").getPath
    val b1e = corpusEmb.filter(col("vec_id") === 3L)
      .select(lit(0L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
      .flatMap { case (_, v) => Seq((1L, v), (2L, v)) }
      .toDF("vec_id", "embedding")
    // doc 4: a fresh tiled image, large enough to carry shingles
    val b1t = b1.unionByName(Seq((4L, novel4, "s")).toDF("doc_id", "text", "source"))
    val b1m = Seq((1L, PerceptualDedup.fixtureBmp(7007L * 5)),
      (3L, PerceptualDedup.fixtureBmp(7008L * 5)),
      (4L, PerceptualDedup.fixtureRcropBmp(7009L * 7, 0))).toDF("doc_id", "payload")
    intercept[Exception] {
      StreamingAdmit.admit(spark, b1t, statePath, strict = true,
        esigsPath = Some(esigs), batchEmb = Some(b1e), outPath = Some(outPath),
        psigsPath = Some(psigs), batchMedia = Some(b1m), ptrim = true)
    }
    assert(spark.read.parquet(outPath).count() > 0, "output must land before the sig append")
    assert(spark.read.parquet(s"$esigs/assign").count() > assignBefore,
      "emb assign must land before the sig append")
    assert(spark.read.parquet(s"$psigs/bands").count() > bandsBefore,
      "media bands must land before the sig append")
    assert(spark.read.parquet(s"$psigs/shingles").count() > shinglesBefore,
      "containment shingles must land before the sig append")

    // RETRY idempotence after exactly this crash: the batch's own vectors,
    // bands and shingles are now IN the emb/media states, so a naive
    // compare would flag every admitted doc against its own state row
    // (cosine 1 / hamming 0 / full containment) and permanently drop it.
    // The self-id exclusion in admitEmbCompare/admitMediaCompare/
    // admitTrimCompare makes the retry reach the same admitted set.
    val statePath2 = new java.io.File(base, "state2").getPath
    val firstAdmitted = spark.read.parquet(outPath)
      .select("doc_id").as[Long].collect().toSet
    val retry = StreamingAdmit.admit(spark, b1t, statePath2, strict = true,
      esigsPath = Some(esigs), batchEmb = Some(b1e), outPath = Some(outPath),
      psigsPath = Some(psigs), batchMedia = Some(b1m), ptrim = true)
    assert(retry.select("doc_id").as[Long].collect().toSet === firstAdmitted,
      "retry must re-admit the same docs, not reject them against their own state rows")
  }

  test("media leg: corpus-near off the bands state, strict batch pair, day-2 off appended bands") {
    import graft.xscale.PerceptualDedup
    val base = tmpDir("stream-admit-media")
    val statePath = new java.io.File(base, "state").getPath
    val psigs = new java.io.File(base, "psigs").getPath
    // bootstrapped bands state: 10 distinct corpus images (fixture id*5 =
    // v=0 bases, mutually far)
    PerceptualDedup.imageHashFrame(
      (0L to 9L).map(i => (i, PerceptualDedup.fixtureBmp(i * 5))).toDF("doc_id", "payload"))
      .filter(col("decoded"))
      .select(col("doc_id").as("cv_id"), col("bands"))
      .write.parquet(s"$psigs/bands")
    def shifted(cluster: Long, off: Int) = PerceptualDedup.makeBmp(9, 8,
      (x, y) => PerceptualDedup.fixtureGray(cluster * 5, x, y) + off)
    // day 1: 21 = re-encode of corpus image 4; 22/23 = same novel image
    // arriving twice (strict keeps 22); 24 = media-less (null payload path
    // exercised by stream(); here simply absent from batchMedia)
    val d1 = Seq((21L, novel1, "s"), (22L, novel2, "s"),
      (23L, novel3, "s"), (24L, novel4, "s")).toDF("doc_id", "text", "source")
    val d1m = Seq(
      (21L, shifted(4L, 16)),
      (22L, PerceptualDedup.fixtureBmp(5555L * 5)),
      (23L, shifted(5555L, 16))).toDF("doc_id", "payload")
    val out = new java.io.File(base, "out").getPath
    val reportPath = new java.io.File(base, "report").getPath
    val adm1 = StreamingAdmit.admit(spark, d1, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 0L,
      psigsPath = Some(psigs), batchMedia = Some(d1m), outPath = Some(out))
    assert(adm1.select("doc_id").as[Long].collect().toSet === Set(22L, 24L))
    val rep1 = spark.read.parquet(reportPath).filter(col("batch_id") === 0L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep1 === Map("admitted" -> 2L, "near_dup_corpus_img" -> 1L,
      "near_dup_batch_img" -> 1L))
    // appended bands = admitted ∩ decodable = 22 only
    assert(spark.read.parquet(s"$psigs/bands").count() === 11L)
    // day 2: a re-encode of day-1-admitted 22 flags off the APPENDED state
    val d2 = Seq((31L, "a fresh gazetteer of unnamed creeks surveyed twice", "s"))
      .toDF("doc_id", "text", "source")
    val d2m = Seq((31L, shifted(5555L, 31))).toDF("doc_id", "payload")
    val adm2 = StreamingAdmit.admit(spark, d2, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 1L,
      psigsPath = Some(psigs), batchMedia = Some(d2m), outPath = Some(out))
    assert(adm2.isEmpty)
    val rep2 = spark.read.parquet(reportPath).filter(col("batch_id") === 1L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep2 === Map("near_dup_corpus_img" -> 1L))
    assert(spark.read.parquet(s"$psigs/bands").count() === 11L)
  }

  test("media leg audio: mod-tagged state classifies clips, appends conform, write-order holds") {
    import graft.xscale.PerceptualDedup
    val base = tmpDir("stream-admit-audio")
    val statePath = new java.io.File(base, "state").getPath
    val psigs = new java.io.File(base, "psigs").getPath
    // the NEW state layout, as `Cli admit --psigs` run 1 writes it:
    // mod-tagged mixed media (5 images + 5 clips) + the width meta
    PerceptualDedup.writeBandMeta(spark, s"$psigs/meta", wide = false)
    PerceptualDedup.mediaHashFrame(
      ((0L to 4L).map(i => (i, PerceptualDedup.fixtureBmp(i * 5))) ++
        (5L to 9L).map(i => (i, PerceptualDedup.fixtureWav(i * 5))))
        .toDF("doc_id", "payload"))
      .filter(col("decoded"))
      .select(col("doc_id").as("cv_id"), col("mod"), col("bands"))
      .write.parquet(s"$psigs/bands")
    // 41 = +10 re-gain of corpus clip 7 (near_dup_corpus_aud); 42/43 =
    // the same novel clip arriving twice (strict keeps 42, 43
    // near_dup_batch_aud); 44 = re-encode of corpus IMAGE 2 (the image
    // rule keeps firing beside the audio one); 45 = fresh clip
    val d1 = Seq((41L, novel1, "s"), (42L, novel2, "s"), (43L, novel3, "s"),
      (44L, novel4, "s"), (45L, "an unrelated homestead audit ledger", "s"))
      .toDF("doc_id", "text", "source")
    val d1m = Seq(
      (41L, PerceptualDedup.fixtureWavShift(7L * 5, 10)),
      (42L, PerceptualDedup.fixtureWav(6666L * 5)),
      (43L, PerceptualDedup.fixtureWavShift(6666L * 5, 10)),
      (44L, PerceptualDedup.fixtureBmpShift(2L * 5, 16)),
      (45L, PerceptualDedup.fixtureWav(8888L * 5))).toDF("doc_id", "payload")
    val out = new java.io.File(base, "out").getPath
    val reportPath = new java.io.File(base, "report").getPath
    val adm1 = StreamingAdmit.admit(spark, d1, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 0L,
      psigsPath = Some(psigs), batchMedia = Some(d1m), outPath = Some(out))
    assert(adm1.select("doc_id").as[Long].collect().toSet === Set(42L, 45L))
    val rep1 = spark.read.parquet(reportPath).filter(col("batch_id") === 0L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep1 === Map("admitted" -> 2L, "near_dup_corpus_aud" -> 1L,
      "near_dup_batch_aud" -> 1L, "near_dup_corpus_img" -> 1L))
    // the append conformed to the mod-tagged layout (write-order pin:
    // bands landed — the sig append above succeeded, so ordering held)
    val st = spark.read.parquet(s"$psigs/bands")
    assert(st.columns.toSet === Set("cv_id", "mod", "bands"))
    assert(st.filter(col("mod") === "aud").count() === 7L)
    // day 2: a re-gain of day-1-admitted 42 flags off the APPENDED state
    val d2 = Seq((51L, "a novel weir maintenance schedule for the upper reach", "s"))
      .toDF("doc_id", "text", "source")
    val d2m = Seq((51L, PerceptualDedup.fixtureWavShift(6666L * 5, 10)))
      .toDF("doc_id", "payload")
    val adm2 = StreamingAdmit.admit(spark, d2, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 1L,
      psigsPath = Some(psigs), batchMedia = Some(d2m), outPath = Some(out))
    assert(adm2.isEmpty)
    val rep2 = spark.read.parquet(reportPath).filter(col("batch_id") === 1L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep2 === Map("near_dup_corpus_aud" -> 1L))
  }

  test("media leg video: third modality classifies off the shared state, appended bands flag day 2") {
    import graft.xscale.PerceptualDedup
    val base = tmpDir("stream-admit-video")
    val statePath = new java.io.File(base, "state").getPath
    val psigs = new java.io.File(base, "psigs").getPath
    // three-modality state, as `Cli admit --psigs` run 1 writes it
    PerceptualDedup.writeBandMeta(spark, s"$psigs/meta", wide = false)
    PerceptualDedup.mediaHashFrame(
      ((0L to 3L).map(i => (i, PerceptualDedup.fixtureBmp(i * 5))) ++
        (4L to 6L).map(i => (i, PerceptualDedup.fixtureWav(i * 5))) ++
        (7L to 9L).map(i => (i, PerceptualDedup.fixtureAvi(i * 5))))
        .toDF("doc_id", "payload"))
      .filter(col("decoded"))
      .select(col("doc_id").as("cv_id"), col("mod"), col("bands"))
      .write.parquet(s"$psigs/bands")
    // 61 = brightened re-encode of corpus video 8 (near_dup_corpus_vid);
    // 62/63 = the same novel video twice, once 2x re-rendered (strict
    // keeps 62, 63 near_dup_batch_vid); 64 = re-gain of corpus clip 5
    // (the audio rule keeps firing beside the video one); 65 = fresh
    val d1 = Seq((61L, novel1, "s"), (62L, novel2, "s"), (63L, novel3, "s"),
      (64L, novel4, "s"), (65L, "an unrelated sluice calibration ledger", "s"))
      .toDF("doc_id", "text", "source")
    val d1m = Seq(
      (61L, PerceptualDedup.fixtureAviShift(8L * 5, 10)),
      (62L, PerceptualDedup.fixtureAvi(6161L * 5)),
      (63L, PerceptualDedup.fixtureAvi2x(6161L * 5)),
      (64L, PerceptualDedup.fixtureWavShift(5L * 5, 10)),
      (65L, PerceptualDedup.fixtureAvi(8989L * 5))).toDF("doc_id", "payload")
    val out = new java.io.File(base, "out").getPath
    val reportPath = new java.io.File(base, "report").getPath
    val adm1 = StreamingAdmit.admit(spark, d1, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 0L,
      psigsPath = Some(psigs), batchMedia = Some(d1m), outPath = Some(out))
    assert(adm1.select("doc_id").as[Long].collect().toSet === Set(62L, 65L))
    val rep1 = spark.read.parquet(reportPath).filter(col("batch_id") === 0L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep1 === Map("admitted" -> 2L, "near_dup_corpus_vid" -> 1L,
      "near_dup_batch_vid" -> 1L, "near_dup_corpus_aud" -> 1L))
    val st = spark.read.parquet(s"$psigs/bands")
    assert(st.filter(col("mod") === "vid").count() === 5L) // 3 corpus + 62, 65
    // day 2: a re-render of day-1-admitted 62 flags off the APPENDED state
    val d2 = Seq((71L, "a novel penstock inspection roster for the east race", "s"))
      .toDF("doc_id", "text", "source")
    val d2m = Seq((71L, PerceptualDedup.fixtureAvi2x(6161L * 5)))
      .toDF("doc_id", "payload")
    val adm2 = StreamingAdmit.admit(spark, d2, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 1L,
      psigsPath = Some(psigs), batchMedia = Some(d2m), outPath = Some(out))
    assert(adm2.isEmpty)
    val rep2 = spark.read.parquet(reportPath).filter(col("batch_id") === 1L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep2 === Map("near_dup_corpus_vid" -> 1L))
  }

  test("trim leg: re-cut of corpus video flagged off the shingle state; strict keeps the source") {
    import graft.xscale.PerceptualDedup
    val base = tmpDir("stream-admit-ptrim")
    val statePath = new java.io.File(base, "state").getPath
    val psigs = new java.io.File(base, "psigs").getPath
    def trim(img: Long, from: Int) = PerceptualDedup.makeAvi(4, 4,
      PerceptualDedup.VideoWindows - from,
      (f, _, _) => PerceptualDedup.fixtureFrameVid(img, f + from))
    // state as `Cli admit --ptrim --psigs` run 1 writes it: bands + meta
    // + the shingle table
    PerceptualDedup.writeBandMeta(spark, s"$psigs/meta", wide = false)
    val corpusMedia = (0L to 9L).map(i => (i, PerceptualDedup.fixtureAvi(i * 5)))
      .toDF("doc_id", "payload")
    PerceptualDedup.mediaHashFrame(corpusMedia).filter(col("decoded"))
      .select(col("doc_id").as("cv_id"), col("mod"), col("bands"))
      .write.parquet(s"$psigs/bands")
    PerceptualDedup.videoFrameShingles(corpusMedia)
      .withColumnRenamed("doc_id", "cv_id")
      .write.parquet(s"$psigs/shingles")
    // 81 = frames 10..64 of corpus video 7 (band leg blind -> only the
    // trim leg flags it); 82 = a novel TRIM and 83 its full source
    // arriving together (strict keep-best keeps 83 — min-id would keep
    // the lower-id trim 82); 84 = fresh
    val d1 = Seq((81L, novel1, "s"), (82L, novel2, "s"), (83L, novel3, "s"),
      (84L, novel4, "s")).toDF("doc_id", "text", "source")
    val d1m = Seq(
      (81L, trim(7L * 5, 10)),
      (82L, trim(8282L * 5, 10)),
      (83L, PerceptualDedup.fixtureAvi(8282L * 5)),
      (84L, PerceptualDedup.fixtureAvi(8484L * 5))).toDF("doc_id", "payload")
    val out = new java.io.File(base, "out").getPath
    val reportPath = new java.io.File(base, "report").getPath
    val adm1 = StreamingAdmit.admit(spark, d1, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 0L,
      psigsPath = Some(psigs), batchMedia = Some(d1m), outPath = Some(out),
      ptrim = true)
    assert(adm1.select("doc_id").as[Long].collect().toSet === Set(83L, 84L))
    val rep1 = spark.read.parquet(reportPath).filter(col("batch_id") === 0L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep1 === Map("admitted" -> 2L, "near_dup_corpus_vtrim" -> 1L,
      "near_dup_batch_vtrim" -> 1L))
    // the shingle append landed for the admitted docs only
    val sh = spark.read.parquet(s"$psigs/shingles")
    assert(sh.filter(col("cv_id") === 83L).count() >= 60L)
    assert(sh.filter(col("cv_id") === 81L).count() === 0L)
    // day 2: a trim of day-1-admitted 83 flags off the APPENDED shingles
    val d2 = Seq((91L, "a novel tailrace dredging logbook for the lower bay", "s"))
      .toDF("doc_id", "text", "source")
    val d2m = Seq((91L, trim(8282L * 5, 20))).toDF("doc_id", "payload")
    val adm2 = StreamingAdmit.admit(spark, d2, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 1L,
      psigsPath = Some(psigs), batchMedia = Some(d2m), outPath = Some(out),
      ptrim = true)
    assert(adm2.isEmpty)
    val rep2 = spark.read.parquet(reportPath).filter(col("batch_id") === 1L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep2 === Map("near_dup_corpus_vtrim" -> 1L))
  }

  test("crop leg: tile-aligned image crop flagged off a mod-tagged shingle state; strict keeps the source") {
    import graft.xscale.PerceptualDedup
    val base = tmpDir("stream-admit-icrop")
    val statePath = new java.io.File(base, "state").getPath
    val psigs = new java.io.File(base, "psigs").getPath
    def cimg(img: Long, off: Int) = {
      val tw = PerceptualDedup.CropTilesX - off
      val th = PerceptualDedup.CropTilesY - off
      val levels = Array.tabulate(tw, th)((i, j) =>
        PerceptualDedup.fixtureTileLvl(img, i + off, j + off))
      PerceptualDedup.makeBmp(tw * PerceptualDedup.TileSize, th * PerceptualDedup.TileSize,
        (x, y) => levels(x / PerceptualDedup.TileSize)(y / PerceptualDedup.TileSize))
    }
    // state as `Cli admit --ptrim --psigs` run 1 writes it TODAY:
    // mod-tagged bands AND mod-tagged shingles (mediaShingles)
    PerceptualDedup.writeBandMeta(spark, s"$psigs/meta", wide = false)
    val corpusMedia = (0L to 9L).map(i => (i, cimg(i * 5, 0)))
      .toDF("doc_id", "payload")
    PerceptualDedup.mediaHashFrame(corpusMedia).filter(col("decoded"))
      .select(col("doc_id").as("cv_id"), col("mod"), col("bands"))
      .write.parquet(s"$psigs/bands")
    PerceptualDedup.mediaShingles(corpusMedia)
      .withColumnRenamed("doc_id", "cv_id")
      .write.parquet(s"$psigs/shingles")
    // 81 = crop of corpus image 7 (band leg blind — only the crop leg
    // flags it); 82 = a novel CROP and 83 its full source together
    // (strict keep-best keeps 83, the 20-shingle original); 84 = fresh
    val d1 = Seq((81L, novel1, "s"), (82L, novel2, "s"), (83L, novel3, "s"),
      (84L, novel4, "s")).toDF("doc_id", "text", "source")
    val d1m = Seq(
      (81L, cimg(7L * 5, 1)),
      (82L, cimg(8282L * 5, 1)),
      (83L, cimg(8282L * 5, 0)),
      (84L, cimg(8484L * 5, 0))).toDF("doc_id", "payload")
    val out = new java.io.File(base, "out").getPath
    val reportPath = new java.io.File(base, "report").getPath
    val adm1 = StreamingAdmit.admit(spark, d1, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 0L,
      psigsPath = Some(psigs), batchMedia = Some(d1m), outPath = Some(out),
      ptrim = true)
    assert(adm1.select("doc_id").as[Long].collect().toSet === Set(83L, 84L))
    val rep1 = spark.read.parquet(reportPath).filter(col("batch_id") === 0L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep1 === Map("admitted" -> 2L, "near_dup_corpus_icrop" -> 1L,
      "near_dup_batch_icrop" -> 1L))
    // the appended rows carry the img tag; day 2 flags a crop of
    // day-1-admitted 83 off the APPENDED shingles
    val sh = spark.read.parquet(s"$psigs/shingles")
    assert(sh.filter(col("cv_id") === 83L && col("mod") === "img").count() === 20L)
    val d2 = Seq((91L, "a novel tailrace dredging logbook for the lower bay", "s"))
      .toDF("doc_id", "text", "source")
    val d2m = Seq((91L, cimg(8282L * 5, 1))).toDF("doc_id", "payload")
    val adm2 = StreamingAdmit.admit(spark, d2, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 1L,
      psigsPath = Some(psigs), batchMedia = Some(d2m), outPath = Some(out),
      ptrim = true)
    assert(adm2.isEmpty)
    val rep2 = spark.read.parquet(reportPath).filter(col("batch_id") === 1L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep2 === Map("near_dup_corpus_icrop" -> 1L))
  }

  test("rcrop leg: resized crop flagged off the rescale-space state; append serves day 2") {
    import graft.xscale.PerceptualDedup
    val base = tmpDir("stream-admit-rcrop")
    val statePath = new java.io.File(base, "state").getPath
    val psigs = new java.io.File(base, "psigs").getPath
    // state as `Cli admit --ptrim --psigs` run 1 writes it TODAY: shmeta
    // (all six spaces) + mod-tagged shingles INCLUDING the rs2/rs4
    // scaled fingerprints (mediaShingles with the rescale set)
    PerceptualDedup.writeBandMeta(spark, s"$psigs/meta", wide = false)
    PerceptualDedup.writeShingleMeta(spark, s"$psigs/shmeta")
    val corpusMedia = (0L to 5L).map(i => (i, PerceptualDedup.fixtureRcropBmp(i * 7, 0)))
      .toDF("doc_id", "payload")
    PerceptualDedup.mediaHashFrame(corpusMedia).filter(col("decoded"))
      .select(col("doc_id").as("cv_id"), col("mod"), col("bands"))
      .write.parquet(s"$psigs/bands")
    PerceptualDedup.mediaShingles(corpusMedia, rscales = PerceptualDedup.RescaleSet)
      .withColumnRenamed("doc_id", "cv_id")
      .write.parquet(s"$psigs/shingles")
    // 81 = the 2x-resized crop of corpus image 3 (every dHash block AND
    // every native tile boundary moved — only the rescale spaces flag
    // it); 82/83 = a novel resized crop WITH its full-canvas source
    // (the bipartite strict leg orders the pair); 84 = fresh
    val d1 = Seq((81L, novel1, "s"), (82L, novel2, "s"), (83L, novel3, "s"),
      (84L, novel4, "s")).toDF("doc_id", "text", "source")
    val d1m = Seq(
      (81L, PerceptualDedup.fixtureRcropBmp(3L * 7, 2)),
      (82L, PerceptualDedup.fixtureRcropBmp(8282L * 7, 2)),
      (83L, PerceptualDedup.fixtureRcropBmp(8282L * 7, 0)),
      (84L, PerceptualDedup.fixtureRcropBmp(8484L * 7, 0))).toDF("doc_id", "payload")
    val out = new java.io.File(base, "out").getPath
    val reportPath = new java.io.File(base, "report").getPath
    val adm1 = StreamingAdmit.admit(spark, d1, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 0L,
      psigsPath = Some(psigs), batchMedia = Some(d1m), outPath = Some(out),
      ptrim = true)
    assert(adm1.select("doc_id").as[Long].collect().toSet === Set(83L, 84L))
    val rep1 = spark.read.parquet(reportPath).filter(col("batch_id") === 0L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep1 === Map("admitted" -> 2L, "near_dup_corpus_rcrop" -> 1L,
      "near_dup_batch_rcrop" -> 1L))
    // the append conformed to the state's spaces: the admitted source's
    // SCALED fingerprints landed (35 rs2 + 6 rs4 for a 128x96 canvas) —
    // which is exactly what lets day 2 flag a resized crop of it
    val sh = spark.read.parquet(s"$psigs/shingles")
    assert(sh.filter(col("cv_id") === 83L && col("mod") === "rs2").count() === 35L)
    assert(sh.filter(col("cv_id") === 83L && col("mod") === "rs4").count() === 6L)
    val d2 = Seq((91L, "a novel tailrace dredging logbook for the lower bay", "s"))
      .toDF("doc_id", "text", "source")
    val d2m = Seq((91L, PerceptualDedup.fixtureRcropBmp(8282L * 7, 2)))
      .toDF("doc_id", "payload")
    val adm2 = StreamingAdmit.admit(spark, d2, statePath, strict = true,
      reportPath = Some(reportPath), batchId = 1L,
      psigsPath = Some(psigs), batchMedia = Some(d2m), outPath = Some(out),
      ptrim = true)
    assert(adm2.isEmpty)
    val rep2 = spark.read.parquet(reportPath).filter(col("batch_id") === 1L)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(rep2 === Map("near_dup_corpus_rcrop" -> 1L))
  }

  test("MemoryStream end-to-end: every status routed, state admitted-only") {
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val dir = tmpDir("stream-admit-e2e")
    val statePath = new java.io.File(dir, "state").getPath
    val outPath = new java.io.File(dir, "out").getPath
    val reportPath = new java.io.File(dir, "report").getPath
    val q = StreamingAdmit.stream(
      in.toDF().toDF("doc_id", "text"), statePath, outPath,
      new java.io.File(dir, "ckpt").getPath, reportPath = Some(reportPath))

    in.addData((1L, novel1), (2L, novel2))
    q.processAllAvailable()
    in.addData(
      (3L, novel1),         // exact dup of state
      (4L, novel2 + " zq"), // near dup of state
      (5L, novel3), (6L, novel3 + " zr"), // intra-batch near pair
      (7L, novel4))         // fresh
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(outPath).select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 2L, 5L, 7L))
    val state = spark.read.parquet(statePath).select("doc_id").as[Long].collect().toSet
    assert(state === out)
    val rep = spark.read.parquet(reportPath)
      .select("status", "n_docs").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(rep === Map(
      "admitted" -> 4L, "dup_exact_corpus" -> 1L,
      "near_dup_corpus" -> 1L, "near_dup_batch" -> 1L))
  }

  test("a strict batch reads the sig state once: the strict passes reuse the corpus-leg status") {
    // every record a stage reads comes from a state (the batch is an
    // in-memory frame) or from a cut of the call's own batch-sized frames.
    // One classification scans the sig state twice (the exact leg's key
    // projection and the near leg's band rows); if the strict passes
    // rebuilt the corpus-leg status each would scan it twice more
    val base = tmpDir("stream-admit-reads")
    val stateRows = 3000L
    val corpus = graft.source.Synthetic.powerlawDocs(spark, stateRows).select("doc_id", "text", "source")
    val statePath = new java.io.File(base, "state").getPath
    graft.xscale.Dedup.dedupSignatures(corpus).write.parquet(statePath)
    val corpusEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 100)
    val esigs = new java.io.File(base, "esigs").getPath
    graft.xscale.Similarity.admitEmbeddingBootstrapAuto(corpusEmb, esigs, trainSample = 0.1)
    val embRows = spark.read.parquet(s"$esigs/assign").count()
    val texts = corpus.filter(col("doc_id") < 4).select("text").as[String].collect()
    // exact re-arrivals of four state docs, an intra-batch near pair and
    // two fresh docs; 5000001/5000002 share one vector (an emb pair)
    val batch = (texts.zipWithIndex.map { case (t, i) => (5000010L + i, t, "s") } ++ Seq(
      (5000001L, novel1, "s"), (5000002L, novel1 + " zq", "s"),
      (5000003L, novel2, "s"), (5000004L, novel3, "s"))).toSeq.toDF("doc_id", "text", "source")
    val batchEmb = corpusEmb.filter(col("vec_id") === 3L)
      .select(expr("transform(embedding, x -> -x)").as("embedding"))
      .crossJoin(Seq(5000001L, 5000003L).toDF("vec_id"))
      .select("vec_id", "embedding")

    val read = new java.util.concurrent.atomic.AtomicLong()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker"))
          done.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    val admitted = try {
      val out = StreamingAdmit.admit(spark, batch, statePath, strict = true,
        esigsPath = Some(esigs), batchEmb = Some(batchEmb))
        .select("doc_id").as[Long].collect().toSet
      // the listener bus delivers in order: every stage of the call
      // completes before this marker job starts
      spark.sparkContext.setJobDescription("marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS), "marker job never arrived")
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(admitted === Set(5000001L, 5000004L))
    val records = read.get()
    val once = 2 * stateRows + embRows
    info(s"records read: $records (sig state $stateRows rows, emb assign $embRows rows)")
    assert(records >= once, s"read $records records, fewer than one pass over the states ($once)")
    assert(records < once + stateRows,
      s"read $records records: the sig state is scanned more than once per classification")
  }
}
