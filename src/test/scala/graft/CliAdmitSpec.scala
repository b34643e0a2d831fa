package graft

import org.apache.spark.sql.functions._

/** `Cli admit`: the daily-ingest admission posture (x74's decision rule)
  * as a CLI verb — classify an arriving batch against an existing corpus
  * without re-shuffling the corpus, ship only the admitted rows.
  */
class CliAdmitSpec extends SparkSpec {
  import spark.implicits._

  test("admit classifies a batch against the corpus and ships only admitted rows") {
    val base = tmpDir("cli-admit")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "source")

    // planted batch: 5 exact copies of corpus docs, one intra-batch dup
    // pair (novel text, two arrivals), 3 near copies of corpus docs (one
    // appended token — 3-shingle Jaccard ~ (n-2)/(n-1), well above the
    // >=8/16 minhash decision), one genuinely fresh doc
    val exactDups = corpus.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 50000L)
    val novel = "the weather station logged forty two distinct readings " +
      "before the calibration drift alarm finally tripped at dawn"
    val batchPair = Seq(
      (60001L, novel, "batch"),
      (60002L, novel, "batch")).toDF("doc_id", "text", "source")
    val nearDups = corpus.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 70000L)
      .withColumn("text", concat(col("text"), lit(" zq")))
    val fresh = Seq((80000L,
      "a completely unrelated inventory of tidal charts and lighthouse " +
        "maintenance schedules for the northern archipelago stations",
      "batch")).toDF("doc_id", "text", "source")
    val batch = exactDups.unionByName(batchPair)
      .unionByName(nearDups).unionByName(fresh)

    val corpusPath = base.getPath + "/corpus.parquet"
    val batchPath = base.getPath + "/batch.parquet"
    val out = base.getPath + "/admit"
    corpus.write.parquet(corpusPath)
    batch.write.parquet(batchPath)

    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List("admit", corpusPath, batchPath, out)) === 0)
    }
    val json = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    def stat(k: String): Long =
      s""""$k":(\\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
    assert(stat("batch") === 11L)
    assert(stat("dup_exact_corpus") === 5L)
    assert(stat("dup_exact_batch") === 1L)
    assert(stat("near_dup_corpus") === 3L)
    assert(stat("admitted") === 2L)

    // the admitted output carries the FULL batch columns and exactly the
    // fresh doc + one arrival of the intra-batch pair
    val admitted = spark.read.parquet(s"$out/admitted")
    assert(admitted.columns.toSet === Set("doc_id", "text", "source"))
    val ids = admitted.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(80000L))
    assert((ids - 80000L).subsetOf(Set(60001L, 60002L)) && ids.size === 2)

    // the report is x74's oracle row shape: status / n_docs / checksum
    val report = spark.read.parquet(s"$out/report")
    assert(report.columns.toSeq === Seq("status", "n_docs", "checksum"))
    assert(report.select("status").as[String].collect().toSet ===
      Set("admitted", "dup_exact_corpus", "dup_exact_batch", "near_dup_corpus"))

    // idempotence: append the admitted rows to the corpus and re-admit the
    // SAME batch — nothing is admitted twice (prior admits are now exact
    // corpus dups, near copies stay near, exact copies stay exact)
    val corpus2Path = base.getPath + "/corpus2.parquet"
    corpus.unionByName(admitted).write.parquet(corpus2Path)
    val out2 = base.getPath + "/admit2"
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2)) {
      assert(Cli.run(spark, List("admit", corpus2Path, batchPath, out2)) === 0)
    }
    val json2 = buf2.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    def stat2(k: String): Long =
      s""""$k":(\\d+)""".r.findFirstMatchIn(json2).get.group(1).toLong
    assert(stat2("admitted") === 0L)
    assert(spark.read.parquet(s"$out2/admitted").isEmpty)
  }

  test("admit --strict catches near-dup pairs arriving together in one batch") {
    val base = tmpDir("cli-admit-strict")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 50).select("doc_id", "text", "source")
    // two novel docs, near-dups OF EACH OTHER (one appended token), plus a
    // fresh singleton: the batch-vs-corpus rule admits all three; --strict
    // must keep one of the pair (CC min survivor) + the singleton
    val novel = "the granary inventory listed seventeen sacks of winter rye " +
      "beside the mill ledger entries from the previous autumn harvest"
    val batch = Seq(
      (60001L, novel, "batch"),
      (60002L, novel + " zq", "batch"),
      (80000L,
        "an unrelated register of canal lock repairs scheduled across the " +
          "eastern waterways during the dry season",
        "batch")).toDF("doc_id", "text", "source")
    val corpusPath = base.getPath + "/corpus.parquet"
    val batchPath = base.getPath + "/batch.parquet"
    corpus.write.parquet(corpusPath)
    batch.write.parquet(batchPath)

    def runJson(args: List[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { assert(Cli.run(spark, args) === 0) }
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    }
    // plain admit: the intra-batch NEAR pair is invisible — both admitted
    val jPlain = runJson(List("admit", corpusPath, batchPath, base.getPath + "/plain"))
    assert(jPlain.contains(""""admitted":3"""))
    assert(!jPlain.contains("near_dup_batch"))
    // --strict: one survivor of the pair + the singleton
    val jStrict = runJson(List(
      "admit", corpusPath, batchPath, base.getPath + "/strict", "--strict"))
    assert(jStrict.contains(""""admitted":2"""))
    assert(jStrict.contains(""""near_dup_batch":1"""))
    val ids = spark.read.parquet(base.getPath + "/strict/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(60001L, 80000L)) // CC survivor = min doc_id of the pair
    val report = spark.read.parquet(base.getPath + "/strict/report")
    assert(report.filter(col("status") === "near_dup_batch")
      .select("n_docs").as[Long].head() === 1L)
  }

  test("admit --compact un-poisons the sidecar after corpus docs are removed") {
    val base = tmpDir("cli-admit-compact")
    // 99 real docs + one planted UNIQUE doc (the testdata corpus has real
    // dup clusters, so a removed REAL doc could legitimately re-classify
    // as a near-dup of a surviving cluster sibling — the planted doc
    // isolates the stale-state effect)
    val planted = Seq((999L,
      "a singular appendix cataloguing disused semaphore towers along the " +
        "decommissioned railway cuttings of the southern moor",
      "batch")).toDF("doc_id", "text", "source")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 99).select("doc_id", "text", "source")
      .unionByName(planted)
    val corpusPath = base.getPath + "/corpus.parquet"
    val sigsDir = base.getPath + "/sigs"
    corpus.write.parquet(corpusPath)

    def runJson(args: List[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { assert(Cli.run(spark, args) === 0) }
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    }
    // bootstrap the sidecar off the full 100-doc corpus (empty batch)
    val emptyBatch = corpus.filter(lit(false)).select("doc_id", "text", "source")
    val batch0Path = base.getPath + "/batch0.parquet"
    emptyBatch.write.parquet(batch0Path)
    runJson(List("admit", corpusPath, batch0Path, base.getPath + "/a0", "--sigs", sigsDir))
    // plant the retry double-append drift mode: re-append doc 0's state
    xscale.Dedup.dedupSignatures(corpus.filter(col("doc_id") === 0))
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(sigsDir)
    assert(spark.read.parquet(sigsDir).count() === 101L)

    // the corpus is re-filtered: the planted doc is REMOVED; tomorrow's
    // batch re-submits its text under a new id
    val corpus2Path = base.getPath + "/corpus2.parquet"
    corpus.filter(col("doc_id") =!= 999).write.parquet(corpus2Path)
    val batch = corpus.filter(col("doc_id") === 999)
      .withColumn("doc_id", col("doc_id") + 50000L)
    val batchPath = base.getPath + "/batch.parquet"
    batch.write.parquet(batchPath)

    // WITHOUT --compact the stale state poisons admission: the content the
    // corpus no longer has is rejected as a dup of it
    val jStale = runJson(List(
      "admit", corpus2Path, batchPath, base.getPath + "/a1", "--sigs", sigsDir))
    assert(jStale.contains(""""dup_exact_corpus":1"""))
    assert(jStale.contains(""""admitted":0"""))

    // WITH --compact the removed doc's state is dropped first (and the
    // double-append collapses), so the re-submission ADMITS
    val jCompact = runJson(List(
      "admit", corpus2Path, batchPath, base.getPath + "/a2",
      "--sigs", sigsDir, "--compact"))
    assert(jCompact.contains(""""admitted":1"""))
    assert(jCompact.contains(""""dup_exact_corpus":0"""))
    // sidecar after: 99 surviving corpus states (doc 999 gone, doc 0's
    // double-append collapsed to one) + the newly admitted doc's state
    val after = spark.read.parquet(sigsDir)
    assert(after.count() === 100L)
    assert(after.filter(col("doc_id") === 999).isEmpty)
    assert(after.filter(col("doc_id") === 0).count() === 1L)
    assert(after.filter(col("doc_id") === 50999L).count() === 1L)

    // --compact without --sigs is a contradiction — usage, not silence
    val bufBad = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bufBad)) {
      assert(Cli.run(spark,
        List("admit", corpus2Path, batchPath, base.getPath + "/a3", "--compact")) === 2)
    }
  }

  test("admit --emb/--bemb flags rewordings by the embedding leg; vectorless docs pass") {
    val base = tmpDir("cli-admit-emb")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text", "source")
    val corpusEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 100)
    // doc 70000: text UNIQUE (the text leg admits it) but its embedding is
    // an exact copy of corpus vector 5 — a reworded corpus doc; doc 70001:
    // unique text, NO batch vector at all
    val batch = Seq(
      (70000L, "a reworded account of the very same filing rendered in fresh phrasing", "b"),
      (70001L, "an unrelated memorandum on boundary stone maintenance rotas", "b"))
      .toDF("doc_id", "text", "source")
    val batchEmb = corpusEmb.filter(col("vec_id") === 5)
      .withColumn("vec_id", lit(70000L))
    val (corpusPath, batchPath) = (base.getPath + "/c.parquet", base.getPath + "/b.parquet")
    val (cePath, bePath) = (base.getPath + "/ce.parquet", base.getPath + "/be.parquet")
    corpus.write.parquet(corpusPath)
    batch.write.parquet(batchPath)
    corpusEmb.write.parquet(cePath)
    batchEmb.write.parquet(bePath)

    def runJson(args: List[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { assert(Cli.run(spark, args) === 0) }
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    }
    // text-only: both admitted — the reworded doc is invisible
    val jPlain = runJson(List("admit", corpusPath, batchPath, base.getPath + "/plain"))
    assert(jPlain.contains(""""admitted":2"""))
    // embedding leg: the identical-vector doc flags, the vectorless passes
    val jEmb = runJson(List(
      "admit", corpusPath, batchPath, base.getPath + "/emb",
      "--emb", cePath, "--bemb", bePath))
    assert(jEmb.contains(""""admitted":1"""))
    assert(jEmb.contains(""""near_dup_corpus_emb":1"""))
    val ids = spark.read.parquet(base.getPath + "/emb/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(70001L))
    // --emb without --bemb (and vice versa) is a contradiction — usage
    val bufBad = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bufBad)) {
      assert(Cli.run(spark, List(
        "admit", corpusPath, batchPath, base.getPath + "/x", "--emb", cePath)) === 2)
    }

    // --esigs: run 1 bootstraps the frozen emb state (centroids + corpus
    // assignment); run 2 classifies with the corpus EMBEDDINGS deleted —
    // the emb twin of the text sidecar-independence pin — and the
    // admitted doc's vector was appended, so a re-submission of ITS
    // vector under a new id now flags
    val esigs = base.getPath + "/esigs"
    val j1 = runJson(List(
      "admit", corpusPath, batchPath, base.getPath + "/e1",
      "--emb", cePath, "--bemb", bePath, "--esigs", esigs))
    assert(j1.contains(""""near_dup_corpus_emb":1"""))
    assert(new java.io.File(esigs, "centroids").exists())
    // corpus embeddings retired; batch 2 = doc 70001's text reworded
    // again (unique text) carrying doc 70001's... no vector — plus a doc
    // whose vector copies corpus vec 7 (still flags off the state)
    val batch2 = Seq(
      (80000L, "an audit trail of pilot boat departures logged against the tide tables", "b"))
      .toDF("doc_id", "text", "source")
    val batch2Emb = corpusEmb.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(80000L))
    val (b2Path, be2Path) = (base.getPath + "/b2.parquet", base.getPath + "/be2.parquet")
    batch2.write.parquet(b2Path)
    batch2Emb.write.parquet(be2Path)
    val deleted = base.getPath + "/no-such-emb"
    val j2 = runJson(List(
      "admit", corpusPath, b2Path, base.getPath + "/e2",
      "--emb", deleted, "--bemb", be2Path, "--esigs", esigs))
    assert(j2.contains(""""near_dup_corpus_emb":1"""))
    assert(j2.contains(""""admitted":0"""))
    // append-only state: run 1 admitted doc 70001 (vectorless — nothing
    // appended); the assign table is still exactly the 100 corpus rows
    assert(spark.read.parquet(s"$esigs/assign").count() === 100L)

    // positive append: a doc with a genuinely novel vector (the NEGATION
    // of corpus vec 3 — cosine ≈ -1 to its twin, ≈ 0 elsewhere in this
    // near-isotropic fixture) ADMITS and its vector joins the state…
    val farEmb = corpusEmb.filter(col("vec_id") === 3)
      .select(lit(90000L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"), col("label"))
    val batch3 = Seq((90000L,
      "a census of drift nets recovered beyond the shoal marker last month",
      "b")).toDF("doc_id", "text", "source")
    val (b3Path, be3Path) = (base.getPath + "/b3.parquet", base.getPath + "/be3.parquet")
    batch3.write.parquet(b3Path)
    farEmb.write.parquet(be3Path)
    val j3 = runJson(List(
      "admit", corpusPath, b3Path, base.getPath + "/e3",
      "--emb", deleted, "--bemb", be3Path, "--esigs", esigs))
    assert(j3.contains(""""admitted":1"""))
    assert(spark.read.parquet(s"$esigs/assign").count() === 101L)
    // …so a re-submission of THAT vector under a new id flags off the
    // appended state — yesterday's admission is visible today
    val batch4 = Seq((90001L,
      "the same drift net census retold in different words entirely",
      "b")).toDF("doc_id", "text", "source")
    val (b4Path, be4Path) = (base.getPath + "/b4.parquet", base.getPath + "/be4.parquet")
    batch4.write.parquet(b4Path)
    farEmb.withColumn("vec_id", lit(90001L)).write.parquet(be4Path)
    val j4 = runJson(List(
      "admit", corpusPath, b4Path, base.getPath + "/e4",
      "--emb", deleted, "--bemb", be4Path, "--esigs", esigs))
    assert(j4.contains(""""near_dup_corpus_emb":1"""))
    assert(j4.contains(""""admitted":0"""))
  }

  test("admit --strict --emb catches two rewordings arriving together in one batch") {
    val base = tmpDir("cli-admit-emb-strict")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text", "source")
    val corpusEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 100)
    // two batch docs: texts UNIQUE (text leg admits both, strict text CC
    // sees no pair), vectors IDENTICAL and genuinely novel (negation of
    // corpus vec 3 — near nothing in the corpus, so the corpus emb rule
    // admits both): exactly the blind spot
    val batch = Seq(
      (70000L, "a first rewording describing the cooperative grain ledger in fresh terms", "b"),
      (70001L, "a second unrelated-sounding retelling of that very cooperative grain ledger", "b"))
      .toDF("doc_id", "text", "source")
    val novelVec = corpusEmb.filter(col("vec_id") === 3)
      .select(lit(0L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"), col("label"))
    val batchEmb = novelVec.withColumn("vec_id", lit(70000L))
      .unionByName(novelVec.withColumn("vec_id", lit(70001L)))
    val (corpusPath, batchPath) = (base.getPath + "/c.parquet", base.getPath + "/b.parquet")
    val (cePath, bePath) = (base.getPath + "/ce.parquet", base.getPath + "/be.parquet")
    corpus.write.parquet(corpusPath)
    batch.write.parquet(batchPath)
    corpusEmb.write.parquet(cePath)
    batchEmb.write.parquet(bePath)

    def runJson(args: List[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { assert(Cli.run(spark, args) === 0) }
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    }
    // without --strict the pair is invisible: both admitted
    val jPlain = runJson(List(
      "admit", corpusPath, batchPath, base.getPath + "/plain",
      "--emb", cePath, "--bemb", bePath))
    assert(jPlain.contains(""""admitted":2"""))
    assert(!jPlain.contains("near_dup_batch_emb"))
    // --strict: one survivor (CC min = 70000), the other near_dup_batch_emb
    val jStrict = runJson(List(
      "admit", corpusPath, batchPath, base.getPath + "/strict",
      "--emb", cePath, "--bemb", bePath, "--strict"))
    assert(jStrict.contains(""""admitted":1"""))
    assert(jStrict.contains(""""near_dup_batch_emb":1"""))
    val ids = spark.read.parquet(base.getPath + "/strict/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(70000L))
    // the loser's vector must NOT have been appended to the emb state —
    // only the survivor's: re-run with --esigs and count the appends
    val esigs = base.getPath + "/esigs"
    runJson(List(
      "admit", corpusPath, batchPath, base.getPath + "/es",
      "--emb", cePath, "--bemb", bePath, "--esigs", esigs, "--strict"))
    val assign = spark.read.parquet(s"$esigs/assign")
    assert(assign.filter(col("cv_id") === 70000L).count() === 1L)
    assert(assign.filter(col("cv_id") === 70001L).isEmpty)
  }

  test("admit runs every corpus leg before any strict pass (survivor never dropped after election)") {
    // The round-12 ADVICE ordering defect: under the old order the emb
    // strict pass ran BEFORE the media corpus leg, so an intra-batch emb
    // pair could elect a survivor that the media leg then rejected —
    // leaving the cluster with NO admitted representative while its loser
    // stayed near_dup_batch_emb. Fixture: two batch docs with unique
    // texts and IDENTICAL novel vectors (the strict-emb pair); the
    // min-id one ALSO carries a brightness re-encode of a corpus image.
    // Correct order: the media corpus leg rejects 70010 first, the emb
    // strict CC then runs over the one still-admitted doc (no pair), and
    // 70011 — the content's only clean copy — is admitted.
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-leg-order")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text", "source")
    val corpusEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 100)
    val corpusMedia = (0L to 9L)
      .map(i => (i, PerceptualDedup.fixtureBmp(i * 5)))
      .toDF("doc_id", "payload")
    val batch = Seq(
      (70010L, "an entirely fresh description of the cooperative seed exchange", "b"),
      (70011L, "a different retelling of that very seed exchange in other words", "b"))
      .toDF("doc_id", "text", "source")
    val novelVec = corpusEmb.filter(col("vec_id") === 3)
      .select(lit(0L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"), col("label"))
    val batchEmb = novelVec.withColumn("vec_id", lit(70010L))
      .unionByName(novelVec.withColumn("vec_id", lit(70011L)))
    val batchMedia = Seq(
      (70010L, PerceptualDedup.makeBmp(9, 8,
        (x, y) => PerceptualDedup.fixtureGray(3L * 5, x, y) + 16)),
      (70011L, PerceptualDedup.fixtureBmp(8888L * 5))).toDF("doc_id", "payload")
    val paths = Map(
      "c" -> "/corpus.parquet", "b" -> "/batch.parquet", "ce" -> "/ce.parquet",
      "be" -> "/be.parquet", "cm" -> "/cm.parquet", "bm" -> "/bm.parquet")
      .map { case (k, v) => k -> (base.getPath + v) }
    corpus.write.parquet(paths("c")); batch.write.parquet(paths("b"))
    corpusEmb.write.parquet(paths("ce")); batchEmb.write.parquet(paths("be"))
    corpusMedia.write.parquet(paths("cm")); batchMedia.write.parquet(paths("bm"))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List(
        "admit", paths("c"), paths("b"), base.getPath + "/out", "--strict",
        "--emb", paths("ce"), "--bemb", paths("be"),
        "--pmedia", paths("cm"), "--bmedia", paths("bm"))) === 0)
    }
    val j = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j.contains(""""near_dup_corpus_img":1"""), j)
    assert(j.contains(""""near_dup_batch_emb":0"""), j)
    assert(j.contains(""""admitted":1"""), j)
    val ids = spark.read.parquet(base.getPath + "/out/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(70011L))
  }

  test("admit --esigs --compact drops stale vectors of removed corpus docs") {
    val base = tmpDir("cli-admit-esigs-compact")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text", "source")
    // corpus embeddings, with doc 99's vector swapped for a NOVEL one (the
    // negation of vec 3 — near nothing else in this near-isotropic
    // fixture) so removing doc 99 isolates the stale-state effect
    val baseEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 99)
    val novel = baseEmb.filter(col("vec_id") === 3)
      .select(lit(99L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"), col("label"))
    val corpusEmb = baseEmb.unionByName(novel)
    val (corpusPath, cePath) = (base.getPath + "/c.parquet", base.getPath + "/ce.parquet")
    corpus.write.parquet(corpusPath)
    corpusEmb.write.parquet(cePath)

    def runJson(args: List[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { assert(Cli.run(spark, args) === 0) }
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    }
    // bootstrap the emb state off the full corpus (empty batch)
    val esigs = base.getPath + "/esigs"
    val emptyB = corpus.filter(lit(false))
    val emptyE = corpusEmb.filter(lit(false))
    val (b0, be0) = (base.getPath + "/b0.parquet", base.getPath + "/be0.parquet")
    emptyB.write.parquet(b0)
    emptyE.write.parquet(be0)
    runJson(List("admit", corpusPath, b0, base.getPath + "/a0",
      "--emb", cePath, "--bemb", be0, "--esigs", esigs))
    // plant the retry double-append: doc 0's assign row lands twice
    val assign = spark.read.parquet(s"$esigs/assign")
    assign.filter(col("cv_id") === 0)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$esigs/assign")
    assert(spark.read.parquet(s"$esigs/assign").count() === 101L)

    // corpus re-filtered: doc 99 removed; tomorrow a REWORDING of its
    // content (same vector, unique text, new id) arrives
    val corpus2 = base.getPath + "/c2.parquet"
    corpus.filter(col("doc_id") =!= 99).write.parquet(corpus2)
    val batch = Seq((80000L,
      "a fresh retelling of the decommissioned appendix in different words",
      "b")).toDF("doc_id", "text", "source")
    val batchEmb = novel.withColumn("vec_id", lit(80000L))
    val (bP, beP) = (base.getPath + "/b.parquet", base.getPath + "/be.parquet")
    batch.write.parquet(bP)
    batchEmb.write.parquet(beP)

    // WITHOUT --compact the stale vector poisons admission
    val jStale = runJson(List("admit", corpus2, bP, base.getPath + "/a1",
      "--emb", cePath, "--bemb", beP, "--esigs", esigs))
    assert(jStale.contains(""""near_dup_corpus_emb":1"""))
    assert(jStale.contains(""""admitted":0"""))
    // WITH --compact the removed doc's vector is dropped first (and the
    // double-append collapses) — the rewording ADMITS
    val jCompact = runJson(List("admit", corpus2, bP, base.getPath + "/a2",
      "--emb", cePath, "--bemb", beP, "--esigs", esigs, "--compact"))
    assert(jCompact.contains(""""admitted":1"""))
    assert(jCompact.contains(""""near_dup_corpus_emb":0"""))
    // assign after: 98 surviving corpus rows (99 gone, 0's double
    // collapsed) + the newly admitted vector
    val after = spark.read.parquet(s"$esigs/assign")
    assert(after.count() === 100L)
    assert(after.filter(col("cv_id") === 99).isEmpty)
    assert(after.filter(col("cv_id") === 0).count() === 1L)
    assert(after.filter(col("cv_id") === 80000L).count() === 1L)
    // centroids stayed frozen through compaction (never retrained)
    assert(spark.read.parquet(s"$esigs/centroids").count() > 0)
  }

  test("emb-admission state flavors agree: flat centroids vs IMI product cells") {
    val base = tmpDir("esigs-flavors")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    // planted decisives: 5 exact copies (flag under ANY cell engine — a
    // copy shares its original's cell by construction) + 1 negation
    // (admits: cosine ≈ -1 to its twin, ≈ 0 elsewhere)
    val batch = emb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 9000000000L)
      .unionByName(emb.filter(col("vec_id") === 10)
        .select(lit(9100000000L).as("vec_id"),
          expr("transform(embedding, x -> -x)").as("embedding"), col("label")))
    xscale.Similarity.admitEmbeddingBootstrap(emb, base.getPath + "/flat")
    xscale.Similarity.admitEmbeddingBootstrapImi(emb, base.getPath + "/imi")
    def decide(d: String): Map[Long, Boolean] =
      xscale.Similarity.admitEmbeddingSigs(spark, d, batch)
        .select("vec_id", "near_emb").as[(Long, Boolean)].collect().toMap
    val flat = decide(base.getPath + "/flat")
    val imi = decide(base.getPath + "/imi")
    val expected = ((0L until 5L).map(i => (i + 9000000000L) -> true) :+
      (9100000000L -> false)).toMap
    assert(flat === expected)
    assert(imi === expected)
    // the auto rule picks flat below the boundary…
    xscale.Similarity.admitEmbeddingBootstrapAuto(emb, base.getPath + "/auto")
    assert(new java.io.File(base.getPath + "/auto", "centroids").exists())
    // …and the IMI layout self-describes (halves + meta + assign)
    assert(new java.io.File(base.getPath + "/imi", "halves").exists())
    assert(new java.io.File(base.getPath + "/imi", "meta").exists())
  }

  test("admit --sigs bootstraps the dedup-state sidecar; later runs never read the corpus") {
    val base = tmpDir("cli-admit-sigs")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text", "source")
    val batch = corpus.filter(col("doc_id") < 2)
      .withColumn("doc_id", col("doc_id") + 50000L) // 2 exact corpus dups
      .unionByName(Seq((80000L,
        "an entirely novel ledger of migratory bird sightings compiled " +
          "by the volunteer observation network last spring",
        "batch")).toDF("doc_id", "text", "source"))
    val corpusPath = base.getPath + "/corpus.parquet"
    val batchPath = base.getPath + "/batch.parquet"
    val sigsDir = base.getPath + "/sigs"
    corpus.write.parquet(corpusPath)
    batch.write.parquet(batchPath)

    def runJson(args: List[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { assert(Cli.run(spark, args) === 0) }
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    }
    // run 1: no sidecar yet — corpus text is scanned, state bootstrapped
    val j1 = runJson(List(
      "admit", corpusPath, batchPath, base.getPath + "/a1", "--sigs", sigsDir))
    assert(j1.contains(""""corpus_state":"scan""""))
    assert(j1.contains(""""admitted":1"""))
    // sidecar = corpus state + the admitted doc's signature
    val sigs = spark.read.parquet(sigsDir)
    assert(sigs.columns.toSet === Set("doc_id", "key", "sig"))
    assert(sigs.count() === 101L)
    assert(sigs.filter(col("doc_id") === 80000L).count() === 1L)

    // run 2: the corpus path is GONE — with the sidecar present the run
    // must still classify correctly, proving the corpus is never touched;
    // the previously admitted doc is now an exact dup of the STATE
    val j2 = runJson(List(
      "admit", base.getPath + "/no-such-corpus", batchPath,
      base.getPath + "/a2", "--sigs", sigsDir))
    assert(j2.contains(""""corpus_state":"sidecar""""))
    assert(j2.contains(""""admitted":0"""))
    assert(j2.contains(""""dup_exact_corpus":3"""))
    // append-only: nothing admitted, nothing appended
    assert(spark.read.parquet(sigsDir).count() === 101L)
  }

  test("admit --ckpt runs under a reliable checkpoint dir: same report and admits, dir unset after") {
    val base = tmpDir("cli-admit-ckpt")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text", "source")
    // 2 exact corpus dups, 2 near corpus dups, an intra-batch near pair
    // (the --strict pass), one fresh doc
    val novel = "the harbour master recorded nine grain barges waiting " +
      "beyond the breakwater while the spring tide turned at noon"
    val batch = corpus.filter(col("doc_id") < 2)
      .withColumn("doc_id", col("doc_id") + 50000L)
      .unionByName(corpus.filter(col("doc_id") >= 2 && col("doc_id") < 4)
        .withColumn("doc_id", col("doc_id") + 70000L)
        .withColumn("text", concat(col("text"), lit(" zq"))))
      .unionByName(Seq(
        (60001L, novel, "batch"),
        (60002L, novel + " zq", "batch"),
        (80000L, "a fresh catalogue of alpine hut opening dates for the " +
          "coming season across the western ranges", "batch")).toDF("doc_id", "text", "source"))
    val corpusPath = base.getPath + "/corpus.parquet"
    val batchPath = base.getPath + "/batch.parquet"
    corpus.write.parquet(corpusPath)
    batch.write.parquet(batchPath)
    val ckptDir = base.getPath + "/ckpt"

    def admit(name: String, extra: List[String]): (Set[(String, Long, Long)], Set[Long]) = {
      val out = s"${base.getPath}/$name"
      Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
        assert(Cli.run(spark, List("admit", corpusPath, batchPath, out,
          "--sigs", s"${base.getPath}/sigs_$name", "--strict") ++ extra) === 0)
      }
      (spark.read.parquet(s"$out/report").as[(String, Long, Long)].collect().toSet,
        spark.read.parquet(s"$out/admitted").select("doc_id").as[Long].collect().toSet)
    }
    val (plainReport, plainIds) = admit("plain", Nil)
    val (ckptReport, ckptIds) = admit("ckpt", List("--ckpt", ckptDir))
    assert(ckptReport === plainReport)
    assert(ckptIds === plainIds)
    assert(plainIds === Set(60001L, 80000L))
    // the cuts were reliable ones under the --ckpt dir, and the verb left
    // the shared context without a dir (a leaked one would turn every
    // later cut in this JVM reliable)
    assert(rddCheckpoints(ckptDir) > 0, s"no rdd checkpoints under $ckptDir")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("sidecar probes are scheme-aware: file: URIs hit the sidecar branch, IMI layout detected") {
    // regression pin for the probe defect: a java.io.File probe on a
    // scheme-qualified path ("file:/…") ALWAYS answers false (the scheme
    // is treated as a path component), so run 2 would re-bootstrap and
    // OVERWRITE the append-only state — the HDFS/S3 failure mode made
    // reproducible locally. All state dirs here are file:-scheme URIs;
    // only Hadoop FileSystem probes resolve them.
    val base = tmpDir("cli-admit-scheme")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text", "source")
    val corpusPath = "file:" + base.getPath + "/corpus.parquet"
    val sigsDir = "file:" + base.getPath + "/sigs"
    corpus.write.parquet(corpusPath)
    // the java.io premise the pin rests on: the scheme path is invisible
    // to local-file probes even AFTER the state exists
    def runJson(args: List[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { assert(Cli.run(spark, args) === 0) }
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    }
    val batch = Seq((80000L,
      "a novel gazetteer of ferry crossings recorded by the harbor master",
      "batch")).toDF("doc_id", "text", "source")
    val batchPath = "file:" + base.getPath + "/batch.parquet"
    batch.write.parquet(batchPath)
    val j1 = runJson(List(
      "admit", corpusPath, batchPath, "file:" + base.getPath + "/a1", "--sigs", sigsDir))
    assert(j1.contains(""""corpus_state":"scan""""))
    assert(!new java.io.File(sigsDir).exists()) // the old probe's answer
    // run 2 takes the SIDECAR branch (corpus path retired to prove it) and
    // the appended state survives — no re-bootstrap overwrite
    assert(spark.read.parquet(sigsDir).count() === 101L)
    val j2 = runJson(List(
      "admit", "file:" + base.getPath + "/no-such-corpus", batchPath,
      "file:" + base.getPath + "/a2", "--sigs", sigsDir))
    assert(j2.contains(""""corpus_state":"sidecar""""))
    assert(j2.contains(""""dup_exact_corpus":1"""))
    assert(spark.read.parquet(sigsDir).count() === 101L)

    // emb state under a file: URI: the IMI layout self-describes through
    // the Hadoop probe (a local-file probe would mis-detect it as FLAT and
    // die reading the nonexistent centroids table)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val imiDir = "file:" + base.getPath + "/imi"
    xscale.Similarity.admitEmbeddingBootstrapImi(emb, imiDir)
    val probe = emb.filter(col("vec_id") < 2)
      .withColumn("vec_id", col("vec_id") + 9000000000L)
    val decided = xscale.Similarity.admitEmbeddingSigs(spark, imiDir, probe)
      .select("vec_id", "near_emb").as[(Long, Boolean)].collect().toMap
    assert(decided === Map(9000000000L -> true, 9000000001L -> true))
    // and the Cli --esigs bootstrapped? probe: run 2 must NOT re-bootstrap
    // (assign row count stays corpus-sized + appends, never reset)
    val esigs = "file:" + base.getPath + "/esigs"
    val cePath = "file:" + base.getPath + "/ce.parquet"
    emb.write.parquet(cePath)
    val bePath = "file:" + base.getPath + "/be.parquet"
    emb.filter(col("vec_id") === 5).withColumn("vec_id", lit(80000L)).write.parquet(bePath)
    val je1 = runJson(List(
      "admit", corpusPath, batchPath, "file:" + base.getPath + "/e1",
      "--emb", cePath, "--bemb", bePath, "--esigs", esigs))
    assert(je1.contains(""""near_dup_corpus_emb":1"""))
    assert(spark.read.parquet(s"$esigs/assign").count() === 200L)
    val je2 = runJson(List(
      "admit", corpusPath, batchPath, "file:" + base.getPath + "/e2",
      "--emb", "file:" + base.getPath + "/no-such-emb", "--bemb", bePath,
      "--esigs", esigs))
    assert(je2.contains(""""near_dup_corpus_emb":1"""))
    assert(spark.read.parquet(s"$esigs/assign").count() === 200L)
  }

  test("admit --pmedia/--bmedia flags re-encoded images; --strict; --psigs steady state") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-media")
    // all TEXTS are novel and mutually unrelated, so every status below
    // comes from the IMAGE leg alone
    def doc(id: Long, tag: String) =
      (id, s"wholly unrelated $tag ledger entry number $id with its own " +
        s"unshared shingle inventory $tag$id appended for good measure", "s")
    val corpus = (0L to 9L).map(i => doc(i, s"corpus$i")).toDF("doc_id", "text", "source")
    // distinct image per corpus doc: fixture cluster id*5 is always a v=0
    // base — 10 mutually-far hashes
    val corpusMedia = (0L to 9L)
      .map(i => (i, PerceptualDedup.fixtureBmp(i * 5)))
      .toDF("doc_id", "payload")
    // batch: 101 = brightness re-encode of corpus doc 3's image (the edit
    // byte hashing cannot see); 102/103 = the SAME novel image arriving
    // twice (one +16) — only the strict CC can catch it; 104 = payload no
    // reader accepts (must pass unflagged); 105 = fresh image
    def shifted(imgCluster: Long, off: Int) =
      PerceptualDedup.makeBmp(9, 8,
        (x, y) => PerceptualDedup.fixtureGray(imgCluster * 5, x, y) + off)
    val batch = Seq(doc(101L, "a"), doc(102L, "b"), doc(103L, "c"),
      doc(104L, "d"), doc(105L, "e")).toDF("doc_id", "text", "source")
    val batchMedia = Seq(
      (101L, shifted(3L, 16)),
      (102L, PerceptualDedup.fixtureBmp(7777L * 5)),
      (103L, shifted(7777L, 16)),
      (104L, "not an image at all".getBytes),
      (105L, PerceptualDedup.fixtureBmp(8888L * 5))
    ).toDF("doc_id", "payload")
    val corpusPath = base.getPath + "/corpus.parquet"
    val batchPath = base.getPath + "/batch.parquet"
    val cmPath = base.getPath + "/cmedia.parquet"
    val bmPath = base.getPath + "/bmedia.parquet"
    corpus.write.parquet(corpusPath)
    batch.write.parquet(batchPath)
    corpusMedia.write.parquet(cmPath)
    batchMedia.write.parquet(bmPath)
    def runJson(args: List[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { assert(Cli.run(spark, args) === 0) }
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    }
    val psigs = base.getPath + "/psigs"
    val j1 = runJson(List("admit", corpusPath, batchPath, base.getPath + "/m1",
      "--strict", "--pmedia", cmPath, "--bmedia", bmPath, "--psigs", psigs))
    assert(j1.contains(""""near_dup_corpus_img":1"""), j1)
    assert(j1.contains(""""near_dup_batch_img":1"""), j1)
    assert(j1.contains(""""admitted":3"""), j1)
    val ids1 = spark.read.parquet(base.getPath + "/m1/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 === Set(102L, 104L, 105L)) // 102 = min-id survivor of the pair
    // bands state: 10 corpus rows + the admitted DECODABLE batch rows
    // (102, 105 — 104 has no hash to persist)
    assert(spark.read.parquet(s"$psigs/bands").count() === 12L)

    // steady state: the corpus media path is RETIRED (nonexistent) — the
    // bands state alone classifies; a re-encode of day-1-admitted 102
    // flags off the APPENDED state
    val batch2 = Seq(doc(201L, "f")).toDF("doc_id", "text", "source")
    val batchMedia2 = Seq((201L, shifted(7777L, 31))).toDF("doc_id", "payload")
    val b2Path = base.getPath + "/batch2.parquet"
    val bm2Path = base.getPath + "/bmedia2.parquet"
    batch2.write.parquet(b2Path)
    batchMedia2.write.parquet(bm2Path)
    val j2 = runJson(List("admit", corpusPath, b2Path, base.getPath + "/m2",
      "--strict", "--pmedia", base.getPath + "/no-such-media", "--bmedia", bm2Path,
      "--psigs", psigs))
    assert(j2.contains(""""near_dup_corpus_img":1"""), j2)
    assert(spark.read.parquet(s"$psigs/bands").count() === 12L) // nothing admitted
  }

  test("admit --pmedia modality-detects audio: a re-gained WAV re-post is rejected near_dup_corpus_aud") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-audio")
    def doc(id: Long, tag: String) =
      (id, s"fully unrelated $tag journal line $id with its own private " +
        s"shingle set $tag$id attached", "s")
    val corpus = (0L to 9L).map(i => doc(i, s"c$i")).toDF("doc_id", "text", "source")
    // MIXED corpus media: docs 0-4 post images, docs 5-9 post audio clips
    val corpusMedia = ((0L to 4L)
      .map(i => (i, PerceptualDedup.fixtureBmp(i * 5))) ++
      (5L to 9L).map(i => (i, PerceptualDedup.fixtureWav(i * 5))))
      .toDF("doc_id", "payload")
    // batch: 101 = +10 re-gain of corpus doc 7's clip (the edit byte
    // hashing cannot see -> near_dup_corpus_aud); 102/103 = the SAME
    // novel clip arriving twice (one re-gained) -> strict CC keeps 102,
    // 103 near_dup_batch_aud; 104 = +16 re-encode of corpus doc 2's IMAGE
    // (the image leg must keep working beside the audio one); 105 = fresh
    // clip, admitted
    val batch = Seq(doc(101L, "a"), doc(102L, "b"), doc(103L, "c"),
      doc(104L, "d"), doc(105L, "e")).toDF("doc_id", "text", "source")
    val batchMedia = Seq(
      (101L, PerceptualDedup.fixtureWavShift(7L * 5, 10)),
      (102L, PerceptualDedup.fixtureWav(6666L * 5)),
      (103L, PerceptualDedup.fixtureWavShift(6666L * 5, 10)),
      (104L, PerceptualDedup.fixtureBmpShift(2L * 5, 16)),
      (105L, PerceptualDedup.fixtureWav(8888L * 5))
    ).toDF("doc_id", "payload")
    val paths = Map("c" -> "/corpus.parquet", "b" -> "/batch.parquet",
      "cm" -> "/cm.parquet", "bm" -> "/bm.parquet")
      .map { case (k, v) => k -> (base.getPath + v) }
    corpus.write.parquet(paths("c")); batch.write.parquet(paths("b"))
    corpusMedia.write.parquet(paths("cm")); batchMedia.write.parquet(paths("bm"))
    val psigs = base.getPath + "/psigs"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List("admit", paths("c"), paths("b"), base.getPath + "/out",
        "--strict", "--pmedia", paths("cm"), "--bmedia", paths("bm"),
        "--psigs", psigs)) === 0)
    }
    val j = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j.contains(""""near_dup_corpus_aud":1"""), j)
    assert(j.contains(""""near_dup_batch_aud":1"""), j)
    assert(j.contains(""""near_dup_corpus_img":1"""), j)
    assert(j.contains(""""admitted":2"""), j)
    val ids = spark.read.parquet(base.getPath + "/out/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(102L, 105L))
    // the bands state holds BOTH modalities side by side, mod-tagged, and
    // self-describes its width (classic at this corpus size)
    val st = spark.read.parquet(s"$psigs/bands")
    assert(st.columns.toSet === Set("cv_id", "mod", "bands"))
    assert(st.filter(col("mod") === "aud").count() === 7L) // 5 corpus + 102, 105
    assert(st.filter(col("mod") === "img").count() === 5L)
    assert(spark.read.parquet(s"$psigs/meta").select("band_bits")
      .as[Long].head() === 16L)
  }

  test("admit --pmedia modality-detects video: a re-rendered AVI re-post is rejected near_dup_corpus_vid") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-video")
    def doc(id: Long, tag: String) =
      (id, s"fully unrelated $tag journal line $id with its own private " +
        s"shingle set $tag$id attached", "s")
    val corpus = (0L to 9L).map(i => doc(i, s"c$i")).toDF("doc_id", "text", "source")
    // THREE-modality corpus media: docs 0-3 images, 4-6 clips, 7-9 videos
    val corpusMedia = ((0L to 3L)
      .map(i => (i, PerceptualDedup.fixtureBmp(i * 5))) ++
      (4L to 6L).map(i => (i, PerceptualDedup.fixtureWav(i * 5))) ++
      (7L to 9L).map(i => (i, PerceptualDedup.fixtureAvi(i * 5))))
      .toDF("doc_id", "payload")
    // batch: 101 = +10 brightened re-encode of corpus doc 8's video (the
    // edit byte hashing cannot see -> near_dup_corpus_vid); 102/103 = the
    // SAME novel video arriving twice, once as a 2x RE-RENDER (hamming 0
    // by the window-sum invariance) -> strict CC keeps 102, 103
    // near_dup_batch_vid; 104 = +10 re-gain of corpus doc 5's CLIP (the
    // audio leg must keep working beside the video one); 105 = fresh
    // video, admitted
    val batch = Seq(doc(101L, "a"), doc(102L, "b"), doc(103L, "c"),
      doc(104L, "d"), doc(105L, "e")).toDF("doc_id", "text", "source")
    val batchMedia = Seq(
      (101L, PerceptualDedup.fixtureAviShift(8L * 5, 10)),
      (102L, PerceptualDedup.fixtureAvi(7777L * 5)),
      (103L, PerceptualDedup.fixtureAvi2x(7777L * 5)),
      (104L, PerceptualDedup.fixtureWavShift(5L * 5, 10)),
      (105L, PerceptualDedup.fixtureAvi(9999L * 5))
    ).toDF("doc_id", "payload")
    val paths = Map("c" -> "/corpus.parquet", "b" -> "/batch.parquet",
      "cm" -> "/cm.parquet", "bm" -> "/bm.parquet")
      .map { case (k, v) => k -> (base.getPath + v) }
    corpus.write.parquet(paths("c")); batch.write.parquet(paths("b"))
    corpusMedia.write.parquet(paths("cm")); batchMedia.write.parquet(paths("bm"))
    val psigs = base.getPath + "/psigs"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List("admit", paths("c"), paths("b"), base.getPath + "/out",
        "--strict", "--pmedia", paths("cm"), "--bmedia", paths("bm"),
        "--psigs", psigs)) === 0)
    }
    val j = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j.contains(""""near_dup_corpus_vid":1"""), j)
    assert(j.contains(""""near_dup_batch_vid":1"""), j)
    assert(j.contains(""""near_dup_corpus_aud":1"""), j)
    assert(j.contains(""""admitted":2"""), j)
    val ids = spark.read.parquet(base.getPath + "/out/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(102L, 105L))
    // the bands state holds all THREE modalities side by side, mod-tagged
    val st = spark.read.parquet(s"$psigs/bands")
    assert(st.filter(col("mod") === "vid").count() === 5L) // 3 corpus + 102, 105
    assert(st.filter(col("mod") === "aud").count() === 3L)
    assert(st.filter(col("mod") === "img").count() === 4L)
  }

  test("psigs meta drives the batch hash width: a wide state makes later batches hash wide") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-wide-state")
    def doc(id: Long, tag: String) =
      (id, s"totally separate $tag record $id with unshared tokens $tag$id", "s")
    val corpus = (0L to 4L).map(i => doc(i, s"c$i")).toDF("doc_id", "text", "source")
    // a WIDE bands state, as a past-BandBoundary bootstrap would write it:
    // 17x16 fixture images hashed 256-bit (8 x 32-bit bands) + the meta
    val wideBands = (0L to 4L)
      .map(i => (i, "img",
        PerceptualDedup.dhashBandsWide(PerceptualDedup.fixtureBmpWide(i * 5)).get))
      .toDF("cv_id", "mod", "bands")
    val psigs = base.getPath + "/psigs"
    PerceptualDedup.writeBandMeta(spark, s"$psigs/meta", wide = true)
    wideBands.write.parquet(s"$psigs/bands")
    // batch: 101 = brightness re-encode of corpus doc 3's wide image —
    // only a WIDE batch hash can flag it (a classic 4-band hash against
    // the 8-band state would either raise or never match); 102 = fresh
    val batch = Seq(doc(101L, "a"), doc(102L, "b")).toDF("doc_id", "text", "source")
    val batchMedia = Seq(
      (101L, PerceptualDedup.makeBmp(17, 16,
        (x, y) => PerceptualDedup.fixtureGray(3L * 5, x, y) + 16)),
      (102L, PerceptualDedup.fixtureBmpWide(7777L * 5))).toDF("doc_id", "payload")
    val paths = Map("c" -> "/c.parquet", "b" -> "/b.parquet", "bm" -> "/bm.parquet")
      .map { case (k, v) => k -> (base.getPath + v) }
    corpus.write.parquet(paths("c")); batch.write.parquet(paths("b"))
    batchMedia.write.parquet(paths("bm"))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List("admit", paths("c"), paths("b"), base.getPath + "/out",
        "--pmedia", base.getPath + "/retired", "--bmedia", paths("bm"),
        "--psigs", psigs)) === 0)
    }
    val j = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j.contains(""""near_dup_corpus_img":1"""), j)
    assert(j.contains(""""admitted":1"""), j)
    // the appended state row is WIDE — the batch hashed at the state's width
    val appended = spark.read.parquet(s"$psigs/bands")
      .filter(col("cv_id") === 102L).select(size(col("bands"))).as[Int].head()
    assert(appended === PerceptualDedup.BandsWide)
  }

  test("a wide mod-tagged state with a LOST meta still drives wide batch hashing (data fallback)") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-lost-meta")
    def doc(id: Long, tag: String) =
      (id, s"standalone $tag ledger $id with its own phrasing $tag$id", "s")
    val corpus = (0L to 4L).map(i => doc(i, s"c$i")).toDF("doc_id", "text", "source")
    // a NEW-layout wide state — but its meta table is gone (operator
    // error; the bootstrap always writes meta first). The width must be
    // recovered from the state's own band arrays, not silently default
    // to classic (which would zero-recall without even tripping the
    // mismatch guard: wide and classic band values rarely collide).
    val wideBands = (0L to 4L)
      .map(i => (i, "img",
        PerceptualDedup.dhashBandsWide(PerceptualDedup.fixtureBmpWide(i * 5)).get))
      .toDF("cv_id", "mod", "bands")
    val psigs = base.getPath + "/psigs"
    wideBands.write.parquet(s"$psigs/bands") // no meta written
    val batch = Seq(doc(101L, "a")).toDF("doc_id", "text", "source")
    val batchMedia = Seq(
      (101L, PerceptualDedup.makeBmp(17, 16,
        (x, y) => PerceptualDedup.fixtureGray(3L * 5, x, y) + 16)))
      .toDF("doc_id", "payload")
    val paths = Map("c" -> "/c.parquet", "b" -> "/b.parquet", "bm" -> "/bm.parquet")
      .map { case (k, v) => k -> (base.getPath + v) }
    corpus.write.parquet(paths("c")); batch.write.parquet(paths("b"))
    batchMedia.write.parquet(paths("bm"))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List("admit", paths("c"), paths("b"), base.getPath + "/out",
        "--pmedia", base.getPath + "/retired", "--bmedia", paths("bm"),
        "--psigs", psigs)) === 0)
    }
    val j = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j.contains(""""near_dup_corpus_img":1"""), j)
  }

  test("legacy psigs state (pre-width, no mod) keeps its image-only classic contract") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-legacy-state")
    def doc(id: Long, tag: String) =
      (id, s"independent $tag entry $id with its own vocabulary $tag$id", "s")
    val corpus = (0L to 4L).map(i => doc(i, s"c$i")).toDF("doc_id", "text", "source")
    // the pre-audio state layout: (cv_id, bands), no mod column, no meta
    val legacyBands = (0L to 4L)
      .map(i => (i, PerceptualDedup.dhashBands(PerceptualDedup.fixtureBmp(i * 5)).get))
      .toDF("cv_id", "bands")
    val psigs = base.getPath + "/psigs"
    legacyBands.write.parquet(s"$psigs/bands")
    // batch: 101 = re-encode of corpus doc 2's image (must still flag);
    // 102 = fresh image (admitted, appended in the legacy 2-col layout);
    // 103 = an AUDIO clip — a legacy state cannot classify audio, so it
    // passes unflagged (documented: adding audio is a re-bootstrap)
    val batch = Seq(doc(101L, "a"), doc(102L, "b"), doc(103L, "c"))
      .toDF("doc_id", "text", "source")
    val batchMedia = Seq(
      (101L, PerceptualDedup.fixtureBmpShift(2L * 5, 16)),
      (102L, PerceptualDedup.fixtureBmp(7777L * 5)),
      (103L, PerceptualDedup.fixtureWav(9L * 5))).toDF("doc_id", "payload")
    val paths = Map("c" -> "/c.parquet", "b" -> "/b.parquet", "bm" -> "/bm.parquet")
      .map { case (k, v) => k -> (base.getPath + v) }
    corpus.write.parquet(paths("c")); batch.write.parquet(paths("b"))
    batchMedia.write.parquet(paths("bm"))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List("admit", paths("c"), paths("b"), base.getPath + "/out",
        "--pmedia", base.getPath + "/retired", "--bmedia", paths("bm"),
        "--psigs", psigs)) === 0)
    }
    val j = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j.contains(""""near_dup_corpus_img":1"""), j)
    assert(j.contains(""""near_dup_corpus_aud":0"""), j)
    assert(j.contains(""""admitted":2"""), j)
    // the append CONFORMED to the legacy layout: still exactly two
    // columns — 5 corpus rows + admitted-and-decodable 102 (103's audio
    // has no hash under the legacy image-only contract)
    val st = spark.read.parquet(s"$psigs/bands")
    assert(st.columns.toSet === Set("cv_id", "bands"))
    assert(st.count() === 6L)
  }

  test("admit --psigs --compact drops stale bands of removed corpus docs") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-media-compact")
    def doc(id: Long, tag: String) =
      (id, s"entirely distinct $tag manifest row $id carrying private " +
        s"shingles $tag$id only", "s")
    val corpus = (0L to 9L).map(i => doc(i, s"c$i")).toDF("doc_id", "text", "source")
    val corpusMedia = (0L to 9L)
      .map(i => (i, PerceptualDedup.fixtureBmp(i * 5))).toDF("doc_id", "payload")
    val corpusPath = base.getPath + "/corpus.parquet"
    val cmPath = base.getPath + "/cmedia.parquet"
    corpus.write.parquet(corpusPath)
    corpusMedia.write.parquet(cmPath)
    def runJson(args: List[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { assert(Cli.run(spark, args) === 0) }
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    }
    // bootstrap the bands state with a no-op fresh batch
    val b0Path = base.getPath + "/b0.parquet"
    val bm0Path = base.getPath + "/bm0.parquet"
    Seq(doc(100L, "z")).toDF("doc_id", "text", "source").write.parquet(b0Path)
    Seq((100L, PerceptualDedup.fixtureBmp(9999L * 5))).toDF("doc_id", "payload")
      .write.parquet(bm0Path)
    val psigs = base.getPath + "/psigs"
    runJson(List("admit", corpusPath, b0Path, base.getPath + "/m0",
      "--pmedia", cmPath, "--bmedia", bm0Path, "--psigs", psigs))
    // corpus re-filter removes doc 3; its band row is now STALE
    val corpus2Path = base.getPath + "/corpus2.parquet"
    corpus.filter(col("doc_id") =!= 3L).write.parquet(corpus2Path)
    // a re-encode of the REMOVED doc's image arrives
    val b1Path = base.getPath + "/b1.parquet"
    val bm1Path = base.getPath + "/bm1.parquet"
    Seq(doc(200L, "y")).toDF("doc_id", "text", "source").write.parquet(b1Path)
    Seq((200L, PerceptualDedup.makeBmp(9, 8,
      (x, y) => PerceptualDedup.fixtureGray(3L * 5, x, y) + 16)))
      .toDF("doc_id", "payload").write.parquet(bm1Path)
    // stale state POISONS admission: flagged against an image the corpus
    // no longer has
    val jStale = runJson(List("admit", corpus2Path, b1Path, base.getPath + "/ms",
      "--pmedia", cmPath, "--bmedia", bm1Path, "--psigs", psigs))
    assert(jStale.contains(""""near_dup_corpus_img":1"""), jStale)
    // --compact reconciles against the LIVE corpus ids first: admitted
    val jCompact = runJson(List("admit", corpus2Path, b1Path, base.getPath + "/mc",
      "--compact", "--pmedia", cmPath, "--bmedia", bm1Path, "--psigs", psigs))
    assert(jCompact.contains(""""near_dup_corpus_img":0"""), jCompact)
    assert(jCompact.contains(""""admitted":1"""), jCompact)
    // the stale row is gone; doc 200's band appended
    val cvs = spark.read.parquet(s"$psigs/bands").select("cv_id").as[Long].collect().toSet
    assert(!cvs.contains(3L) && cvs.contains(200L))
  }

  test("admit --ptrim flags re-cut videos the band leg admits; strict keeps the LONGER clip") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-ptrim")
    def doc(id: Long, tag: String) =
      (id, s"fully unrelated $tag journal line $id with its own private " +
        s"shingle set $tag$id attached", "s")
    def trim(img: Long, from: Int) = PerceptualDedup.makeAvi(4, 4,
      PerceptualDedup.VideoWindows - from,
      (f, _, _) => PerceptualDedup.fixtureFrameVid(img, f + from))
    val corpus = (0L to 9L).map(i => doc(i, s"c$i")).toDF("doc_id", "text", "source")
    val corpusMedia = (0L to 9L).map(i => (i, PerceptualDedup.fixtureAvi(i * 5)))
      .toDF("doc_id", "payload")
    // 101 = frames 10..64 of corpus doc 7's video — bit-exact frames,
    // shifted hash windows: the band leg ADMITS it, only the trim leg
    // can flag it; 102/103 = a novel video and its trim arriving
    // TOGETHER — strict keep-best must keep 102 (the longer source) and
    // reject 103, which min-id would get exactly backwards here since
    // the trim carries the LOWER... (ids chosen so min-id would keep the
    // trim: 102 source, 103 trim — swap roles: make 102 the TRIM and
    // 103 the source, so min-id would keep the trim but keep-best keeps
    // 103); 104 = fresh video, admitted
    val batch = Seq(doc(101L, "a"), doc(102L, "b"), doc(103L, "c"), doc(104L, "d"))
      .toDF("doc_id", "text", "source")
    val batchMedia = Seq(
      (101L, trim(7L * 5, 10)),
      (102L, trim(6666L * 5, 10)),                       // the trim (lower id)
      (103L, PerceptualDedup.fixtureAvi(6666L * 5)),     // the full source
      (104L, PerceptualDedup.fixtureAvi(8888L * 5))
    ).toDF("doc_id", "payload")
    val paths = Map("c" -> "/corpus.parquet", "b" -> "/batch.parquet",
      "cm" -> "/cm.parquet", "bm" -> "/bm.parquet")
      .map { case (k, v) => k -> (base.getPath + v) }
    corpus.write.parquet(paths("c")); batch.write.parquet(paths("b"))
    corpusMedia.write.parquet(paths("cm")); batchMedia.write.parquet(paths("bm"))
    val psigs = base.getPath + "/psigs"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List("admit", paths("c"), paths("b"), base.getPath + "/out",
        "--strict", "--pmedia", paths("cm"), "--bmedia", paths("bm"),
        "--psigs", psigs, "--ptrim")) === 0)
    }
    val j = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j.contains(""""near_dup_corpus_vtrim":1"""), j)
    assert(j.contains(""""near_dup_batch_vtrim":1"""), j)
    assert(j.contains(""""admitted":2"""), j)
    val ids = spark.read.parquet(base.getPath + "/out/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(103L, 104L), "keep-best kept the longer source, not the min-id trim")
    // the shingle state bootstrapped from the corpus and appended the
    // admitted docs' shingles (103: 64 bigrams, 104: 64) — mod-tagged
    // since the containment leg went multimodal (new bootstraps carry
    // the shingle-space column; legacy states keep the old layout)
    val sh = spark.read.parquet(s"$psigs/shingles")
    assert(sh.columns.toSet === Set("cv_id", "mod", "s1", "q1", "s2", "q2"))
    assert(sh.select("mod").distinct().as[String].collect().toSet === Set("vid"))
    assert(sh.filter(col("cv_id") === 103L).count() >= 60L)
    assert(sh.filter(col("cv_id") === 101L).count() === 0L)
    // day 2: a NEW trim of day-1-admitted 103 flags off the APPENDED state
    val b2 = Seq(doc(201L, "e")).toDF("doc_id", "text", "source")
    val bm2 = Seq((201L, trim(6666L * 5, 10))).toDF("doc_id", "payload")
    val b2Path = base.getPath + "/b2.parquet"; b2.write.parquet(b2Path)
    val bm2Path = base.getPath + "/bm2.parquet"; bm2.write.parquet(bm2Path)
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2)) {
      assert(Cli.run(spark, List("admit", paths("c"), b2Path, base.getPath + "/out2",
        "--strict", "--pmedia", paths("cm"), "--bmedia", bm2Path,
        "--psigs", psigs, "--ptrim")) === 0)
    }
    val j2 = buf2.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j2.contains(""""near_dup_corpus_vtrim":1"""), j2)
    assert(j2.contains(""""admitted":0"""), j2)
    // --ptrim without --pmedia is a contradiction -> usage
    assert(Cli.run(spark, List("admit", paths("c"), paths("b"),
      base.getPath + "/bad", "--ptrim")) === 2)
  }

  test("admit --ptrim flags tile-aligned image crops; ONE state serves both containment modalities") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-icrop")
    def doc(id: Long, tag: String) =
      (id, s"fully unrelated $tag journal line $id with its own private " +
        s"shingle set $tag$id attached", "s")
    def cimg(img: Long, off: Int) = {
      val tw = PerceptualDedup.CropTilesX - off
      val th = PerceptualDedup.CropTilesY - off
      val levels = Array.tabulate(tw, th)((i, j) =>
        PerceptualDedup.fixtureTileLvl(img, i + off, j + off))
      PerceptualDedup.makeBmp(tw * PerceptualDedup.TileSize, th * PerceptualDedup.TileSize,
        (x, y) => levels(x / PerceptualDedup.TileSize)(y / PerceptualDedup.TileSize))
    }
    def trim(img: Long, from: Int) = PerceptualDedup.makeAvi(4, 4,
      PerceptualDedup.VideoWindows - from,
      (f, _, _) => PerceptualDedup.fixtureFrameVid(img, f + from))
    // MIXED corpus media: docs 0..7 images, doc 8 an utterance clip, doc
    // 9 a video, doc 10 a TILED video (6x5 tiles — carries both video
    // shingle spaces), doc 11 a 128x96 original (the x156 fine grid —
    // its 2x/4x scaled fingerprints bootstrap the rescale spaces) — ALL
    // FIVE containment flavors bootstrap into ONE shingle state
    val corpus = (0L to 11L).map(i => doc(i, s"c$i")).toDF("doc_id", "text", "source")
    val corpusMedia = ((0L to 7L).map(i => (i, cimg(i * 5, 0))) ++
      Seq((8L, PerceptualDedup.fixtureWavUtt(8L * 5)),
        (9L, PerceptualDedup.fixtureAvi(9L * 5)),
        (10L, PerceptualDedup.fixtureAviTiles(10L * 5, 0)),
        (11L, PerceptualDedup.fixtureRcropBmp(11L * 5, 0)))).toDF("doc_id", "payload")
    // 101 = tile-aligned CROP of corpus image 7 (band leg blind: the
    // crop shifts every dHash block boundary — only the crop leg flags
    // it); 102 = a novel CROP and 103 its full source arriving TOGETHER
    // (strict keep-best keeps 103, the 20-shingle original; min-id would
    // keep the 12-shingle crop 102); 104 = fresh image; 105 = trim of
    // corpus video 9 (the vid space); 106 = pause-cut EXCERPT of corpus
    // clip 8 (the aud space); 107 = SPATIAL CROP of corpus video 10 —
    // every frame's tiles (1..5, 1..4), which moves every whole-frame
    // moment, so the vid space is blind and only the vsp space (x154)
    // flags it; 108/109 = a NOVEL tiled video's spatial crop arriving
    // WITH its source (both clear every corpus rule; only the strict
    // keep-best can order that pair, and the SOURCE — a TWO-SPACE doc —
    // must stay admitted while the crop re-statuses by its LINKING
    // space) — four containment flavors, one state, one run
    // 110 = the 2x-RESIZED 16-px-aligned crop of corpus image 11 — every
    // dHash block AND every native tile boundary moved, so only the
    // rescale spaces (x156) can flag it; 111/112 = a novel 128x96
    // original and ITS resized crop arriving together (the bipartite
    // strict leg orders that pair: the full-canvas source must stay)
    val batch = Seq(doc(101L, "a"), doc(102L, "b"), doc(103L, "c"),
      doc(104L, "d"), doc(105L, "e"), doc(106L, "g"), doc(107L, "h"),
      doc(108L, "i"), doc(109L, "j"), doc(110L, "k"), doc(111L, "l"),
      doc(112L, "m"))
      .toDF("doc_id", "text", "source")
    val batchMedia = Seq(
      (101L, cimg(7L * 5, 1)),
      (102L, cimg(6666L * 5, 1)),
      (103L, cimg(6666L * 5, 0)),
      (104L, cimg(8888L * 5, 0)),
      (105L, trim(9L * 5, 10)),
      (106L, PerceptualDedup.fixtureWavUtt(8L * 5, uttOff = PerceptualDedup.UttDrop)),
      (107L, PerceptualDedup.fixtureAviTiles(10L * 5, 1)),
      (108L, PerceptualDedup.fixtureAviTiles(7777L * 5, 1)),
      (109L, PerceptualDedup.fixtureAviTiles(7777L * 5, 0)),
      (110L, PerceptualDedup.fixtureRcropBmp(11L * 5, 2)),
      (111L, PerceptualDedup.fixtureRcropBmp(9999L * 5, 0)),
      (112L, PerceptualDedup.fixtureRcropBmp(9999L * 5, 2))
    ).toDF("doc_id", "payload")
    val paths = Map("c" -> "/corpus.parquet", "b" -> "/batch.parquet",
      "cm" -> "/cm.parquet", "bm" -> "/bm.parquet")
      .map { case (k, v) => k -> (base.getPath + v) }
    corpus.write.parquet(paths("c")); batch.write.parquet(paths("b"))
    corpusMedia.write.parquet(paths("cm")); batchMedia.write.parquet(paths("bm"))
    val psigs = base.getPath + "/psigs"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List("admit", paths("c"), paths("b"), base.getPath + "/out",
        "--strict", "--pmedia", paths("cm"), "--bmedia", paths("bm"),
        "--psigs", psigs, "--ptrim")) === 0)
    }
    val j = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j.contains(""""near_dup_corpus_icrop":1"""), j)
    assert(j.contains(""""near_dup_batch_icrop":1"""), j)
    assert(j.contains(""""near_dup_corpus_vtrim":1"""), j)
    assert(j.contains(""""near_dup_corpus_atrim":1"""), j)
    assert(j.contains(""""near_dup_corpus_vcrop":1"""), j)
    // the strict two-space pair: 108 (crop) loses by total fingerprints
    // and re-statuses by its LINKING space (vcrop, never vtrim); 109
    // (the source, a vid+vsp doc) must STAY admitted — a per-(doc, mod)
    // keep-best rank would have demoted the winner's vid row too
    assert(j.contains(""""near_dup_batch_vcrop":1"""), j)
    assert(j.contains(""""near_dup_batch_vtrim":0"""), j)
    // the FIFTH flavor: 110 flags against corpus 11's scaled state rows
    // (both scales fold to the one rcrop status); the 111/112 strict
    // pair keeps the full-canvas source and labels the crop by the
    // bipartite leg
    assert(j.contains(""""near_dup_corpus_rcrop":1"""), j)
    assert(j.contains(""""near_dup_batch_rcrop":1"""), j)
    assert(j.contains(""""admitted":4"""), j)
    val ids = spark.read.parquet(base.getPath + "/out/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(103L, 104L, 109L, 111L),
      "keep-best kept the larger source image, the two-space source video " +
        "AND the full-canvas rcrop source")
    // ONE mod-tagged state holds all four shingle spaces (the tiled
    // video carries vid AND vsp rows); the admitted images' tile
    // shingles appended (103/104: 20 each); the meta sidecar records
    // the spaces + geometry
    val sh = spark.read.parquet(s"$psigs/shingles")
    assert(sh.columns.toSet === Set("cv_id", "mod", "s1", "q1", "s2", "q2"))
    // rs2/rs4 rows: the images' canonical-downscale fingerprints (x156's
    // state role) — the 48x40 images carry rs2 only (their 4x downscale
    // is under one 2x2-tile grid), the 128x96 original both
    assert(sh.select("mod").distinct().as[String].collect().toSet ===
      Set("img", "aud", "vid", "vsp", "rs2", "rs4"))
    assert(sh.filter(col("cv_id") === 103L && col("mod") === "img").count() === 20L)
    assert(sh.filter(col("cv_id") === 101L).count() === 0L)
    assert(sh.filter(col("cv_id") === 107L).count() === 0L)
    // expected vsp rows from the closed form (DISTINCT across frames —
    // mod-181 levels can collide between frames, so the count is the
    // distinct-set size, not frames x neighborhoods)
    val expVsp = (for {
      f <- 0 until PerceptualDedup.VcropFrames
      i <- 0 until PerceptualDedup.CropTilesX - 1
      jj <- 0 until PerceptualDedup.CropTilesY - 1
    } yield (PerceptualDedup.fixtureVidTileLvl(10L * 5, f, i, jj),
      PerceptualDedup.fixtureVidTileLvl(10L * 5, f, i + 1, jj + 1))).distinct.size
    assert(sh.filter(col("cv_id") === 10L && col("mod") === "vsp").count() ===
      expVsp.toLong)
    assert(xscale.PerceptualDedup.stateShingleSpaces(
      spark, s"$psigs/shmeta", sh) === xscale.PerceptualDedup.AdmitShingleSpaces)
    // day 2: a crop of day-1-admitted 103 flags off the APPENDED state
    val b2 = Seq(doc(201L, "f")).toDF("doc_id", "text", "source")
    val bm2 = Seq((201L, cimg(6666L * 5, 1))).toDF("doc_id", "payload")
    val b2Path = base.getPath + "/b2.parquet"; b2.write.parquet(b2Path)
    val bm2Path = base.getPath + "/bm2.parquet"; bm2.write.parquet(bm2Path)
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2)) {
      assert(Cli.run(spark, List("admit", paths("c"), b2Path, base.getPath + "/out2",
        "--strict", "--pmedia", paths("cm"), "--bmedia", bm2Path,
        "--psigs", psigs, "--ptrim")) === 0)
    }
    val j2 = buf2.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j2.contains(""""near_dup_corpus_icrop":1"""), j2)
    assert(j2.contains(""""admitted":0"""), j2)
  }

  test("admit --ptrim legacy (pre-mod) shingle state keeps the video-only contract") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-icrop-legacy")
    def doc(id: Long, tag: String) =
      (id, s"fully unrelated $tag journal line $id with its own private " +
        s"shingle set $tag$id attached", "s")
    def cimg(img: Long, off: Int) = {
      val tw = PerceptualDedup.CropTilesX - off
      val th = PerceptualDedup.CropTilesY - off
      val levels = Array.tabulate(tw, th)((i, j) =>
        PerceptualDedup.fixtureTileLvl(img, i + off, j + off))
      PerceptualDedup.makeBmp(tw * PerceptualDedup.TileSize, th * PerceptualDedup.TileSize,
        (x, y) => levels(x / PerceptualDedup.TileSize)(y / PerceptualDedup.TileSize))
    }
    val corpus = (0L to 3L).map(i => doc(i, s"c$i")).toDF("doc_id", "text", "source")
    val corpusMedia = ((0L to 2L).map(i => (i, cimg(i * 5, 0))) :+
      ((3L, PerceptualDedup.fixtureAvi(3L * 5)))).toDF("doc_id", "payload")
    val paths = Map("c" -> "/corpus.parquet", "cm" -> "/cm.parquet")
      .map { case (k, v) => k -> (base.getPath + v) }
    corpus.write.parquet(paths("c")); corpusMedia.write.parquet(paths("cm"))
    // an r13-shaped state: mod-tagged bands, but a PRE-MOD shingle table
    // (cv_id, s1..q2 — the video-only layout)
    val psigs = base.getPath + "/psigs"
    PerceptualDedup.writeBandMeta(spark, s"$psigs/meta", wide = false)
    PerceptualDedup.mediaHashFrame(corpusMedia).filter(col("decoded"))
      .select(col("doc_id").as("cv_id"), col("mod"), col("bands"))
      .write.parquet(s"$psigs/bands")
    PerceptualDedup.videoFrameShingles(corpusMedia)
      .withColumnRenamed("doc_id", "cv_id")
      .write.parquet(s"$psigs/shingles")
    // batch: an image crop of corpus image 2 — under the legacy contract
    // it must pass UNFLAGGED (img shingles neither compare nor append;
    // widening is a re-bootstrap), plus a trim of corpus video 3 which
    // the legacy state still catches
    val batch = Seq(doc(101L, "a"), doc(102L, "b")).toDF("doc_id", "text", "source")
    val batchMedia = Seq(
      (101L, cimg(2L * 5, 1)),
      (102L, PerceptualDedup.makeAvi(4, 4, PerceptualDedup.VideoWindows - 10,
        (f, _, _) => PerceptualDedup.fixtureFrameVid(3L * 5, f + 10)))
    ).toDF("doc_id", "payload")
    val bPath = base.getPath + "/b.parquet"; batch.write.parquet(bPath)
    val bmPath = base.getPath + "/bm.parquet"; batchMedia.write.parquet(bmPath)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List("admit", paths("c"), bPath, base.getPath + "/out",
        "--strict", "--pmedia", paths("cm"), "--bmedia", bmPath,
        "--psigs", psigs, "--ptrim")) === 0)
    }
    val j = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j.contains(""""near_dup_corpus_icrop":0"""), j)
    assert(j.contains(""""near_dup_corpus_vtrim":1"""), j)
    assert(j.contains(""""admitted":1"""), j)
    // the appended state stays in the legacy layout: vid rows only,
    // no mod column — a later reader's contract is unchanged
    val sh = spark.read.parquet(s"$psigs/shingles")
    assert(sh.columns.toSet === Set("cv_id", "s1", "q1", "s2", "q2"))
    assert(sh.filter(col("cv_id") === 101L).count() === 0L)
  }

  test("admit --ptrim r14 (meta-less mod-tagged) shingle state keeps the TRIAD contract") {
    import xscale.PerceptualDedup
    val base = tmpDir("cli-admit-vcrop-r14")
    def doc(id: Long, tag: String) =
      (id, s"fully unrelated $tag journal line $id with its own private " +
        s"shingle set $tag$id attached", "s")
    val corpus = (0L to 2L).map(i => doc(i, s"c$i")).toDF("doc_id", "text", "source")
    // corpus: two tiled videos + one plain video
    val corpusMedia = Seq(
      (0L, PerceptualDedup.fixtureAviTiles(0L, 0)),
      (1L, PerceptualDedup.fixtureAviTiles(5L, 0)),
      (2L, PerceptualDedup.fixtureAvi(10L))).toDF("doc_id", "payload")
    val paths = Map("c" -> "/corpus.parquet", "cm" -> "/cm.parquet")
      .map { case (k, v) => k -> (base.getPath + v) }
    corpus.write.parquet(paths("c")); corpusMedia.write.parquet(paths("cm"))
    // an r14-shaped state: mod-tagged bands AND mod-tagged shingles, but
    // NO shmeta sidecar and no vsp rows (bootstrapped before the vsp
    // space existed) — the triad contract must hold end to end
    val psigs = base.getPath + "/psigs"
    PerceptualDedup.writeBandMeta(spark, s"$psigs/meta", wide = false)
    PerceptualDedup.mediaHashFrame(corpusMedia).filter(col("decoded"))
      .select(col("doc_id").as("cv_id"), col("mod"), col("bands"))
      .write.parquet(s"$psigs/bands")
    PerceptualDedup.mediaShingles(corpusMedia, vsp = false)
      .withColumnRenamed("doc_id", "cv_id")
      .write.parquet(s"$psigs/shingles")
    // batch: a SPATIAL crop of corpus video 0 — under the r14 contract it
    // must pass UNFLAGGED (vsp rows neither compare nor append; widening
    // is a re-bootstrap), plus a temporal trim of video 2 which the
    // triad state still catches in the vid space
    val batch = Seq(doc(101L, "a"), doc(102L, "b")).toDF("doc_id", "text", "source")
    val batchMedia = Seq(
      (101L, PerceptualDedup.fixtureAviTiles(0L, 1)),
      (102L, PerceptualDedup.makeAvi(4, 4, PerceptualDedup.VideoWindows - 10,
        (f, _, _) => PerceptualDedup.fixtureFrameVid(10L, f + 10)))
    ).toDF("doc_id", "payload")
    val bPath = base.getPath + "/b.parquet"; batch.write.parquet(bPath)
    val bmPath = base.getPath + "/bm.parquet"; batchMedia.write.parquet(bmPath)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      assert(Cli.run(spark, List("admit", paths("c"), bPath, base.getPath + "/out",
        "--strict", "--pmedia", paths("cm"), "--bmedia", bmPath,
        "--psigs", psigs, "--ptrim")) === 0)
    }
    val j = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).mkString
    assert(j.contains(""""near_dup_corpus_vcrop":0"""), j)
    assert(j.contains(""""near_dup_corpus_vtrim":1"""), j)
    assert(j.contains(""""admitted":1"""), j)
    // the appended state stays on the triad contract: the admitted
    // crop's VID rows append, its vsp rows never do — future batches'
    // vsp recall cannot silently depend on append history
    val sh = spark.read.parquet(s"$psigs/shingles")
    assert(sh.select("mod").distinct().as[String].collect().toSet === Set("vid"))
    assert(sh.filter(col("cv_id") === 101L && col("mod") === "vsp").count() === 0L)
    assert(sh.filter(col("cv_id") === 101L && col("mod") === "vid").count() > 0L)
  }
}
