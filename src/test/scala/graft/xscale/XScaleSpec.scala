package graft.xscale

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative

import graft.SparkSpec

/** Semantics tests for the training-data operators: the blocked/bucketed
  * scale paths must return exactly what their brute-force definitions return.
  */
class XScaleSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("x32 pii redaction: every augmented doc detected, redaction leaves no pii") {
    val out = graft.SparkEntry.queries("x32_pii_redact")(spark, sf)
      .select("n_docs", "emails", "ips", "phones", "clean_docs")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // the corpus is pii-free word soup, so counts come ONLY from the
    // deterministic augmentation: exactly one of each per doc, and the
    // redacted text must carry no '@' afterwards
    out.foreach { case (n, e, i, p, clean) =>
      assert(e == n && i == n && p == n && clean == n)
    }
  }

  test("x30 semdedup: drops are real, dominated by a kept tau-neighbor, one survivor per cluster") {
    val out = graft.SparkEntry.queries("x30_semdedup")(spark, sf).cache()
    val emb = Similarity.withNorm(spark.read.parquet(s"$sf/embeddings.parquet"))
    assert(out.count() == emb.count())
    val dropped = out.filter(!col("kept"))
    assert(dropped.count() > 0) // the synthetic corpus has semantic dups
    // every cluster's farthest-from-centroid member can never be dominated
    val maxPerCluster = out.groupBy("cid").agg(max(struct(col("dist"), col("vec_id"))).as("m"))
      .select(col("cid"), col("m.vec_id").as("vec_id"))
    assert(maxPerCluster.join(dropped, Seq("vec_id")).isEmpty)
    val av = out.join(emb, "vec_id")
    val d = dropped.join(emb, "vec_id")
      .select(col("vec_id").as("va"), col("cid"), col("dist").as("da"),
        col("v").as("av"), col("nrm").as("an"))
    // cosine is not transitive, so a dropped vector's dominator may itself
    // have been dropped by a third vector outside the first one's
    // tau-neighborhood — the always-true invariant is that SOME in-cluster
    // dominator exists (kept or dropped): nothing is dropped without a
    // witness
    val anyWitness = d.join(
      av.select(col("vec_id").as("vb"), col("cid"), col("dist").as("db"),
        col("v").as("bv"), col("nrm").as("bn")), Seq("cid"))
      .withColumn("cos", Similarity.dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("cos") >= Similarity.SEMDEDUP_TAU &&
        (col("db") > col("da") || (col("db") === col("da") && col("vb") > col("va"))))
      .select("va").distinct()
    assert(anyWitness.count() == dropped.count())
    // the scale knob: more clusters -> same row count, valid cluster ids
    val wide = Similarity.semDedup(spark.read.parquet(s"$sf/embeddings.parquet"), nc = 32)
    assert(wide.count() == emb.count())
    assert(wide.filter(col("cid") >= 32).isEmpty)
    out.unpersist()
  }

  test("x33 lm score: probabilities bounded, terciles balanced and score-monotone") {
    val out = graft.SparkEntry.queries("x33_lm_score")(spark, sf)
      .select("doc_id", "n_big", "score_e6", "bucket")
      .as[(Long, Long, Long, Long)].collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length == nDocs && out.map(_._1).distinct.length == nDocs)
    out.foreach { case (_, nBig, score, bucket) =>
      assert(bucket >= 1 && bucket <= 3)
      if (nBig == 0) assert(score == -1L)
      else assert(score >= 0 && score <= 1000000L) // mean of probabilities
    }
    val sizes = out.groupBy(_._4).view.mapValues(_.length)
    assert(sizes.values.max - sizes.values.min <= 1) // ntile balance
    // buckets are intervals of the (score, doc_id) order: scores can tie
    // ACROSS a boundary but never invert
    for (b <- 1L to 2L)
      assert(out.filter(_._4 == b).map(_._3).max <= out.filter(_._4 == b + 1).map(_._3).min)
  }

  test("x39 quality-filtered knn: only surviving docs appear on either side") {
    val out = graft.SparkEntry.queries("x39_quality_knn")(spark, sf).cache()
    val kept = TextAnalysis.qualityFilter(
      spark.read.parquet(s"$sf/documents.parquet")).select(col("doc_id")).as[Long].collect().toSet
    val rows = out.select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (q, r, n) =>
      assert(kept.contains(q) && kept.contains(n))
      assert(r >= 1 && r <= 3)
      assert(q != n)
    }
    // the filter must actually bite: fewer query ids than the raw < 10 set
    assert(rows.map(_._1).distinct.length < 10)
    out.unpersist()
  }

  test("x41 hard negatives: cross-label only, cosine-monotone per query") {
    val rows = graft.SparkEntry.queries("x41_hard_negatives")(spark, sf)
      .select("query_id", "q_label", "rank", "n_label", "cos4")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, ql, r, nl, _) =>
      assert(ql != nl)
      assert(r >= 1 && r <= 3)
    }
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._3).map(_._5)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("x04 pigeonhole-blocked simhash join == brute-force all-pairs scan") {
    val q = Dedup.queries.find(_.name == "x04_dedup_simhash").get
    val blocked = q.run(spark, sf).collect().toSeq

    val sh = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("hs", transform(XText.words(col("text")), w => XHash.h60(w)))
      .select(col("doc_id"), graftnative.api.simhash60(col("hs")).as("simhash"))
    val a = sh.select(col("doc_id").as("da"), col("simhash").as("sa"))
    val b = sh.select(col("doc_id").as("db"), col("simhash").as("sb"))
    val brute = a.join(b, col("da") < col("db"))
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("hamming") <= 8)
      .select(col("da").as("doc_id_a"), col("db").as("doc_id_b"), col("hamming"))
      .orderBy("doc_id_a", "doc_id_b")
      .collect().toSeq

    assert(blocked === brute)
    assert(brute.nonEmpty) // corpus contains near-dups; empty would be vacuous
  }

  test("x15 wide (120-bit) simhash: blocked join == brute-force all-pairs at hamming<=3") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val blocked = Dedup.simhashPairs(docs, wide = true)
      .orderBy("doc_id_a", "doc_id_b").collect().toSeq

    val fp = docs.select(
      col("doc_id"),
      graftnative.api.simhash60(graftnative.api.tokenHash60(col("text"))).as("s1"),
      graftnative.api.simhash60(graftnative.api.tokenHash60b(col("text"))).as("s2"))
    val a = fp.select(col("doc_id").as("da"), col("s1").as("sa1"), col("s2").as("sa2"))
    val b = fp.select(col("doc_id").as("db"), col("s1").as("sb1"), col("s2").as("sb2"))
    val brute = a.join(b, col("da") < col("db"))
      .withColumn("hamming", expr("CAST(bit_count(sa1 ^ sb1) + bit_count(sa2 ^ sb2) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("da").as("doc_id_a"), col("db").as("doc_id_b"), col("hamming"))
      .orderBy("doc_id_a", "doc_id_b")
      .collect().toSeq

    assert(blocked === brute)
    assert(brute.nonEmpty) // corpus contains near-exact dups; empty would be vacuous
  }

  test("wide simhash blocks stay selective at 10x the corpus (narrow blocks don't)") {
    // sf0.01 is the 10x smoke corpus: random collisions in a b-bit block
    // are ~n^2/2^b, so the narrow 6-7-bit blocks drown in them while the
    // 30-bit wide blocks keep the candidate set near the true-pair count.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val narrow = Dedup.simhashCandidates(docs, wide = false).count()
    val wide = Dedup.simhashCandidates(docs, wide = true).count()
    assert(wide < narrow / 10, s"wide=$wide narrow=$narrow")
  }

  test("x01 exact dedup: normalization collapses case/punct/whitespace variants") {
    val docs = Seq(
      (1L, "Hello, World!", "a"),
      (2L, "hello   world", "a"),
      (3L, "HELLO WORLD.", "b"),
      (4L, "different doc", "b")).toDF("doc_id", "text", "source")
    val d = docs.withColumn("_norm", Dedup.normText(col("text")))
    val survivors = graft.lake.Lake
      .dedupKeepFirst(d, Seq("_norm"), Seq("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(1L, 4L)) // doc 1 wins its dup cluster by doc_id
  }

  test("minhash LSH candidates are a superset of high-jaccard pairs at sf0.001") {
    // Every pair the exact-jaccard query (>=0.3) returns whose true minhash
    // agreement is >= 8/16 must appear in the x02 candidate output.
    val x02 = Dedup.queries.find(_.name == "x02_dedup_minhash").get
      .run(spark, sf).select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    val sig = Dedup.withSignature(spark.read.parquet(s"$sf/documents.parquet"))
    val sigMap = sig.collect().map(r => r.getLong(0) -> (1 until 17).map(r.getLong)).toMap
    val x03 = Dedup.queries.find(_.name == "x03_ngram_jaccard").get
      .run(spark, sf).select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    val expected = x03.filter { case (a, b) =>
      sigMap(a).zip(sigMap(b)).count { case (x, y) => x == y } >= 8
    }
    assert(expected.subsetOf(x02))
  }

  test("language-ID predicts the marker language on clean sentences") {
    val docs = Seq(
      (1L, "en", "the cat sat of the mat a dog"),
      (2L, "de", "der hund und die katze und der vogel"),
      (3L, "fr", "le chat et les chiens une maison"),
      (4L, "es", "el perro y los gatos una casa")).toDF("doc_id", "lang", "text")
    docs.createOrReplaceTempView("documents_mem")
    val d = docs.withColumn("ws", XText.words(col("text")))
    val hits = TextAnalysis.markers.foldLeft(d) { case (df, (l, set)) =>
      df.withColumn(s"h_$l", size(filter(col("ws"), w => w.isin(set.map(x => x: Any): _*))).cast("long"))
    }
    // reuse the query's own predicted-language logic via the registered query
    // on a temp dir is heavyweight; assert hit counts drive the right argmax
    val rows = hits.select("lang", "h_en", "h_de", "h_fr", "h_es").collect()
    for (r <- rows) {
      val scores = Map("en" -> r.getLong(1), "de" -> r.getLong(2), "fr" -> r.getLong(3), "es" -> r.getLong(4))
      assert(scores(r.getString(0)) === scores.values.max, r.toString)
    }
  }

  test("fingerprint: identical docs share fingerprints, distinct docs differ") {
    val df = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven eight"),
      (3L, "totally different words in this document here now")).toDF("doc_id", "text")
    val fp = df.select(
      col("doc_id"),
      array_min(transform(XText.shingles(XText.words(col("text")), 5), x => XHash.h60(x))).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("x13 trained-IVF recall@3 vs exact x06 is >= 0.83 at sf0.001") {
    val exact = Similarity.queries.find(_.name == "x06_knn_brute").get
      .run(spark, sf).select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.queries.find(_.name == "x13_knn_ivf").get
      .run(spark, sf).select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.83, s"recall=$recall (exact=${exact.size}, hit=${ivf.intersect(exact).size})")
  }

  test("sampled quantizer training: well-formed centroids, full-corpus assignment, usable recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val vi = Similarity.fixedPoint(emb)
    val cents = Similarity.trainQuantizer(vi, Similarity.NC, sampleFraction = 0.5)
    // structure: exactly NC centroids, 64 dims each, every component in the
    // fixed-point range of the data it averaged
    assert(cents.map(_._1) == (0L until Similarity.NC.toLong))
    assert(cents.forall(_._2.length == 64))
    // the sampled-trained quantizer still partitions the FULL corpus
    val asg = Similarity.quantizerRanked(vi, cents).filter(col("rn") === 1)
    assert(asg.count() == emb.count())
    assert(asg.select("cid").distinct().count() > 1)
    // ANN quality holds RELATIVE to full-corpus training: same IVF probe
    // shape, same NPROBE — the sample may cost a little recall but not
    // collapse it (an absolute bound would really measure the fixture's
    // cluster structure, not the sampling)
    def ivfRecall(c: Seq[(Long, Seq[Long])]): Double = {
      val ranked = Similarity.quantizerRanked(vi, c)
      val asg2 = ranked.filter(col("rn") === 1)
        .select(col("vec_id").as("neighbor_id"), col("cid"), col("v").as("cv2"), col("nrm").as("cn"))
      val probe = ranked.filter(col("rn") <= Similarity.NPROBE && col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("cid"), col("v").as("qv"), col("nrm").as("qn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      val got = broadcast(probe).join(asg2, Seq("cid"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", Similarity.dot(col("qv"), col("cv2")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val exact = Similarity.knnBrute(emb, col("vec_id") < 50)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val rSampled = ivfRecall(cents)
    val rFull = ivfRecall(Similarity.trainQuantizer(vi, Similarity.NC))
    assert(rSampled >= rFull - 0.15,
      s"sampled-training recall=$rSampled vs full-training=$rFull")
  }

  test("x30 auto-nc: cluster count scales with the corpus, invariants hold") {
    val emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val n = emb01.count()
    val auto = Similarity.semDedup(emb01, trainSample = 0.5).cache()
    // every vector still classified exactly once
    assert(auto.count() == n)
    // auto-nc targets ~TargetClusterSize-vector clusters: the number of
    // OCCUPIED clusters must land well above the pinned NC=8 and the mean
    // cluster must be within 4x of the target (k-means leaves some seeds
    // empty; what matters for the self-join is the occupied mean)
    val ncDerived = math.max(Similarity.NC.toLong, n / Similarity.TargetClusterSize)
    val occupied = auto.select("cid").distinct().count()
    assert(auto.filter(col("cid") >= ncDerived).isEmpty)
    assert(occupied > Similarity.NC / 2)
    assert(n / occupied <= 4 * Similarity.TargetClusterSize,
      s"mean occupied cluster ${n / occupied}")
    // keep-the-outlier rule survives the knobs: each cluster's farthest
    // vector has no farther neighbor, so it must be kept
    val far = auto.groupBy("cid").agg(max("dist").as("dist"))
      .join(auto, Seq("cid", "dist")).groupBy("cid").agg(max("kept").as("k"))
    assert(far.filter(!col("k")).isEmpty)
    auto.unpersist()
  }

  test("x44 tfidf: distinctive terms win, common terms lose, ranks well-formed") {
    // "zebra" appears once, in one doc; "the" appears everywhere — tf-idf
    // must rank zebra top-1 in its doc and never pick "the" anywhere
    val docs = Seq(
      (1L, "the zebra runs the field the zebra eats grass"),
      (2L, "the lion sleeps the whole day long in the field"),
      (3L, "the field holds the lion and the lion sleeps")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(docs)
      .select("doc_id", "rank", "term", "score_e6")
      .as[(Long, Long, String, Long)].collect()
    assert(out.filter(_._1 == 1L).minBy(_._2)._3 === "zebra")
    assert(!out.map(_._3).contains("the"))
    // per-doc ranks are 1..3 and scores non-increasing in rank
    out.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq === (1L to g.length))
      val byRank = g.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("x45 novelty: first doc fully novel, exact clone fully derivative, totals conserve") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.shingleNovelty(docs).cache()
    assert(out.count() == docs.count())
    // the smallest doc_id can only see itself: novelty exactly 1e6
    val first = out.orderBy("doc_id").first()
    assert(first.getAs[Long]("nov_e6") === 1000000L)
    // global conservation: every distinct shingle hash is novel in exactly
    // one doc, so n_novel sums to the corpus-wide distinct shingle count
    val totalNovel = out.agg(sum("n_novel")).head().getLong(0)
    val distinctShingles = docs.select(
      explode(graftnative.api.shingleHash60(col("text"), 3)).as("h"))
      .distinct().count()
    assert(totalNovel === distinctShingles)
    // an appended exact clone is fully derivative
    val clone = docs.limit(1).select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val out2 = TextAnalysis.shingleNovelty(docs.select("doc_id", "text").union(clone))
    assert(out2.filter(col("doc_id") >= 1000000L).select("nov_e6").as[Long].head() === 0L)
    out.unpersist()
  }

  test("x45/x56 orderCol: real arrival time reassigns first-occurrence credit") {
    // doc 2 SHARES doc 1's phrasing but ARRIVED earlier (smaller ts): under
    // the default hash-order stand-in doc 1 (min doc_id) gets the novelty;
    // under the real timestamp doc 2 does
    val docs = Seq(
      (1L, 200L, "alpha beta gamma delta epsilon"),
      (2L, 100L, "alpha beta gamma delta epsilon"),
      (3L, 300L, "totally different words entirely here"))
      .toDF("doc_id", "ts", "text")
    val byId = TextAnalysis.shingleNovelty(docs)
      .select("doc_id", "nov_e6").as[(Long, Long)].collect().toMap
    assert(byId(1L) === 1000000L && byId(2L) === 0L)
    val byTs = TextAnalysis.shingleNovelty(docs, orderCol = col("ts"))
      .select("doc_id", "nov_e6").as[(Long, Long)].collect().toMap
    assert(byTs(1L) === 0L && byTs(2L) === 1000000L)
    // the unshared doc is fully novel under either order
    assert(byId(3L) === 1000000L && byTs(3L) === 1000000L)
    // x53 phaseCol analog: an injected arrival phase moves first-seen terms
    // into the early phase that actually saw them
    val g = TextAnalysis.vocabGrowth(docs, phases = 2,
      phaseCol = Some(when(col("ts") <= 200L, 0L).otherwise(1L)))
      .select("phase", "new_terms").as[(Long, Long)].collect().toMap
    assert(g(0L) === 5L && g(1L) === 5L) // shared phrasing credited to phase 0
  }

  test("x46 label centroids: full matrix, cosine range, self-consistency") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val nLabels = emb.select("label").distinct().count()
    val out = Similarity.labelCentroidSim(emb)
      .select("label_a", "label_b", "n_a", "n_b", "cos4")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out.length === (nLabels * (nLabels - 1) / 2))
    out.foreach { case (a, b, na, nb, c) =>
      assert(a < b)
      assert(na > 0 && nb > 0)
      assert(c >= -1.0001 && c <= 1.0001)
    }
    // label populations must be consistent wherever the label appears
    val pops = out.flatMap { case (a, b, na, nb, _) => Seq(a -> na, b -> nb) }.toMap
    assert(pops.values.sum === emb.count() * 1 || pops.values.sum > 0)
    assert(out.flatMap(r => Seq(r._1 -> r._3, r._2 -> r._4)).distinct.length === nLabels.toInt)
  }

  test("x47 source overlap: pair counts equal hand-computed group intersections") {
    val docs = Seq(
      (1L, "a", "alpha beta gamma"),
      (2L, "b", "alpha beta gamma"), // dup across a,b
      (3L, "b", "delta epsilon"),
      (4L, "c", "delta epsilon"), // dup across b,c
      (5L, "c", "Alpha, beta gamma!"), // normalizes into the a/b group
      (6L, "a", "unique text here")).toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs)
      .select("source_a", "source_b", "n_groups").as[(String, String, Long)].collect().toSet
    // group1 {a,b,c} contributes to (a,b),(a,c),(b,c); group2 {b,c} to (b,c)
    assert(out === Set(("a", "b", 1L), ("a", "c", 1L), ("b", "c", 2L)))
    // a single-source corpus yields an empty matrix
    assert(Dedup.sourceOverlap(docs.withColumn("source", lit("x"))).isEmpty)
  }

  test("x87 dedup survivorship: drops attributed to internal vs external owners") {
    // group {1,2,5}: owner=1 (src a) → 2 loses externally (b), 5 internally? no — 5 is
    // in c, owner in a → external. group {3,4}: owner=3 (b) → 4 (c) external.
    // group {6,7}: both in a, owner=6 → 7 internal. doc 8 unique.
    val docs = Seq(
      (1L, "a", "alpha beta gamma"),
      (2L, "b", "alpha beta gamma"),
      (3L, "b", "delta epsilon"),
      (4L, "c", "delta epsilon"),
      (5L, "c", "Alpha, beta gamma!"),
      (6L, "a", "same same text"),
      (7L, "a", "same same text"),
      (8L, "a", "unique text here")).toDF("doc_id", "source", "text")
    val out = Dedup.dedupSurvivorship(docs)
      .select("source", "n_docs", "n_kept", "n_dropped", "lost_internal", "lost_external",
        "drop_e6")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      ("a", 4L, 3L, 1L, 1L, 0L, 250000L),
      ("b", 2L, 1L, 1L, 0L, 1L, 500000L),
      ("c", 2L, 0L, 2L, 0L, 2L, 1000000L)))
    // conservation: kept docs equal the distinct norm-key count (4 groups)
    assert(out.map(_._3).sum === 4L)
  }

  test("x50 joint dedup: transitivity works ACROSS signals") {
    // doc 1 ~ doc 2 by TEXT (identical), doc 2 ~ doc 3 by EMBEDDING only
    // (different text, same vector): one cluster, survivor = min doc_id
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely different words inhabit this document body now")).toDF("doc_id", "text")
    val vOrtho = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)
    val vSame = Array.tabulate(8)(i => if (i == 1) 1.0f else 0.0f)
    val emb = Seq((1L, vOrtho), (2L, vSame), (3L, vSame)).toDF("vec_id", "embedding")
    val survivors = Dedup.jointDedup(docs, emb)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(1L))
    // either signal alone would keep two docs
    val textOnly = DedupClusters.dedupByPairs(
      docs, Dedup.simhashPairs(docs).select(col("doc_id_a").as("a"), col("doc_id_b").as("b")))
      .select("doc_id").as[Long].collect().toSet
    assert(textOnly === Set(1L, 3L))
  }

  test("x50 scale knobs: sampled training + reliable checkpointing leave pairs identical") {
    // a corpus big enough that the 0.5 hash-sample is non-trivial: 40 docs
    // in 8 embedding clone-groups of 5 (same vector => cosine 1) plus text
    // dups inside two of the groups
    val n = 40
    val docs = (1 to n).map { i =>
      val txt =
        if (i <= 10) s"shared duplicated sentence body for group ${(i - 1) / 5}"
        else s"unique document number $i with its own set of words " + ("w" + i) * 3
      (i.toLong, txt)
    }.toDF("doc_id", "text")
    val emb = (1 to n).map { i =>
      val g = (i - 1) / 5
      (i.toLong, Array.tabulate(8)(d => if (d == g) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val base = Dedup.jointPairs(docs, emb)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(base.nonEmpty)
    // trainSample only changes which vectors TRAIN the quantizer, never
    // which pairs come out (all clone-group members land in one cluster
    // wherever the centroids sit, cosine pairing is exact within clusters);
    // a session checkpoint dir swaps executor-local for reliable
    // materialization — also invisible to results
    val ckptDir = tmpDir("x50-knobs").getPath + "/ckpt"
    val knobs = graft.Sessions.withCheckpointDir(spark, ckptDir) {
      Dedup.jointPairs(docs, emb, trainSample = 0.5)
        .select("a", "b").as[(Long, Long)].collect().toSet
    }
    assert(knobs === base)
    // the cuts were reliable ones under the scoped dir, and the scope
    // left the shared context without a dir
    assert(rddCheckpoints(ckptDir) > 0, s"no rdd checkpoints under $ckptDir")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    // jointDedup end-to-end with both knobs: same survivors as default
    val sDefault = Dedup.jointDedup(docs, emb)
      .select("doc_id").as[Long].collect().toSet
    val sKnobs = graft.Sessions.withCheckpointDir(spark, ckptDir) {
      Dedup.jointDedup(docs, emb, trainSample = 0.5)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(sKnobs === sDefault)
  }

  test("x16 gopher rules: each crafted doc fails exactly its targeted rule") {
    // doc1 passes everything; doc2 too short (r_words); doc3 8-char words
    // (r_mwl); doc4 "word gold" loop (r_dup2 + r_dup3); doc5 '#'-suffixed
    // words (r_sym). Every doc keeps the stopword / alpha rules green so
    // failures isolate to the targeted rule.
    val docs = Seq(
      (1L, "the a of and alpha bravo carol delta eagle fancy grape hotel india jolly kilos lemon mango night oscar prism"),
      (2L, "the of and tiny"),
      (3L, "the a of and absolute bohemian calamity daffodil eggplant falconry galactic humorous illusion jocosely kangaroo"),
      (4L, "the a of and word gold word gold word gold word gold word gold word gold word gold word gold"),
      (5L, "the a of and cat# dog# fox# owl# bat# cow# pig# hen# ram# ewe# kit# fly#"))
      .toDF("doc_id", "text").withColumn("source", lit("t"))
    val dir = tmpDir("x16").getPath
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val row = TextAnalysis.queries.find(_.name == "x16_quality_gopher").get
      .run(spark, dir).collect()
    assert(row.length === 1)
    val r = row.head
    def l(name: String): Long = r.getLong(r.fieldIndex(name))
    assert(l("n_docs") === 5L)
    assert(l("n_keep") === 1L)
    assert(l("f_words") === 1L) // doc2
    assert(l("f_mwl") === 1L) // doc3
    assert(l("f_stop") === 0L)
    assert(l("f_alpha") === 0L)
    assert(l("f_sym") === 1L) // doc5
    assert(l("f_dup2") === 1L) // doc4
    assert(l("f_dup3") === 1L) // doc4
    assert(l("dup2_num") === 13L) // doc4: 19 bigrams, 6 distinct
    assert(l("dup2_den") === 70L) // 19 + 3 + 14 + 19 + 15
  }

  test("x17 bloom incremental dedup == plain anti-join, and the bloom actually prunes") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)

    val plain = graft.lake.Lake
      .dedupKeepFirst(IncrementalDedup.withKey(batch), Seq("_key"), Seq("doc_id"))
      .join(IncrementalDedup.withKey(corpus).select("_key"), Seq("_key"), "left_anti")
      .select("doc_id").as[Long].collect().toSet

    for (fpp <- Seq(0.03, 0.5)) { // exactness must not depend on fp rate
      val bloom = IncrementalDedup.corpusBloom(corpus, corpus.count(), fpp)
      val got = IncrementalDedup.newDocs(corpus, batch, bloom)
        .select("doc_id").as[Long].collect().toSet
      assert(got === plain, s"fpp=$fpp")
    }

    // tight bloom: probe-positives ~ true dups + fpp; most of the batch is
    // proven new without ever touching the corpus
    val tight = IncrementalDedup.corpusBloom(corpus, corpus.count(), 0.01)
    val nBatch = batch.count()
    val nCand = IncrementalDedup.withKey(batch)
      .filter(org.apache.spark.sql.graftnative.api.bloomMightContain(tight, col("_key")))
      .count()
    val nTrueDups = IncrementalDedup.withKey(batch)
      .join(IncrementalDedup.withKey(corpus).select("_key"), Seq("_key"), "left_semi")
      .count()
    assert(nCand < nBatch, s"cand=$nCand batch=$nBatch")
    assert(nCand >= nTrueDups) // no false negatives
    assert(nCand <= nTrueDups + math.max(3, (0.05 * nBatch).toLong), s"cand=$nCand true=$nTrueDups")
  }

  test("x18/x19 plan shape: top-k short-circuits via WindowGroupLimit; split never shuffles rows") {
    val x18 = TextAnalysis.queries.find(_.name == "x18_top_terms").get.run(spark, sf)
    val p18 = x18.queryExecution.executedPlan.toString
    assert(p18.contains("WindowGroupLimit"), s"top-3 window must rank-limit:\n$p18")
    assert(p18.contains("BroadcastHashJoin"), s"df join must broadcast:\n$p18")

    // the split bucket is a per-row expression: the only exchanges are the
    // final stats aggregation + presentation sort, never a row-data shuffle
    val x19 = TextAnalysis.queries.find(_.name == "x19_train_split").get.run(spark, sf)
    val p19 = x19.queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(p19).size
    assert(exchanges <= 2, s"expected agg+sort exchanges only, got $exchanges:\n$p19")
  }

  test("x51/x52/x54 plan shapes: broadcast bucket join, per-cluster WindowGroupLimit") {
    // x51: the B-row weight table must broadcast back onto the feature
    // stream — a sort-merge join here would shuffle the corpus side
    val p51 = DataPrep.queries.find(_.name == "x51_dsir_select").get
      .run(spark, sf).queryExecution.executedPlan.toString
    assert(p51.contains("BroadcastHashJoin"), s"bucket join must broadcast:\n$p51")
    // x52/x54 diagnostic queries keep dropped rows for accounting, so
    // their only rank-limit is the quantizer's rn=1 assignment window;
    // the SELECTION consumer (filter on kept) must ADD a per-cid
    // WindowGroupLimit for x52's literal cap
    for (name <- Seq("x52_cluster_cap", "x54_proto_prune")) {
      val p = Similarity.queries.find(_.name == name).get
        .run(spark, sf).queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"), s"$name must rank-limit:\n$p")
    }
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def wgl(p: String) = "WindowGroupLimit".r.findAllIn(p).size
    val all = Similarity.clusterCapped(emb, docs, nc = Similarity.NC)
      .queryExecution.executedPlan.toString
    val keptOnly = Similarity.clusterCapped(emb, docs, nc = Similarity.NC)
      .filter(col("kept")).queryExecution.executedPlan.toString
    assert(wgl(keptOnly) > wgl(all),
      s"filtering kept must add a per-cid WindowGroupLimit:\n$keptOnly")
  }

  test("x57 full pipeline: consistent with its stages run separately; DSIR weights broadcast") {
    val q = DataPrep.queries.find(_.name == "x57_pipeline_full").get
    val out = q.run(spark, sf)
      .select("split", "n_docs", "sum_tokens", "removed_tokens", "n_sources")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.map(_._1).toSet.subsetOf(Set("train", "val", "test")) &&
      out.map(_._1).contains("train"))
    // stage-consistency: total selected docs = en survivors + min(TopK, raw survivors)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "lang", "text")
    val survivors = DataPrep.removeSharedSpans(
      Dedup.dedupExact(TextAnalysis.qualityFilter(docs)
        .select("doc_id", "source", "lang", "text")))
      .filter(col("text_clean") =!= "").select("doc_id")
    val langOf = docs.select("doc_id", "lang")
    val nEn = survivors.join(langOf, "doc_id").filter(col("lang") === "en").count()
    val nRaw = survivors.join(langOf, "doc_id").filter(col("lang") =!= "en").count()
    assert(out.map(_._2).sum === nEn + math.min(DataPrep.DsirTopK.toLong, nRaw))
    // the B-row DSIR weight table must broadcast back onto the feature stream
    val plan = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bucket join must broadcast:\n$plan")
  }

  test("x57 threshold twin: zero unpartitioned RANKING windows; target leg matches the pin") {
    import org.apache.spark.sql.catalyst.expressions.{DenseRank, NTile, Rank, RowNumber}
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def globalRankWindows(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.windowExpressions.exists(_.exists {
            case _: RowNumber | _: Rank | _: DenseRank | _: NTile => true
            case _ => false
          }) => w
      }.size
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the oracle pin carries the corpus-sized global DSIR rank by design…
    val pin = DataPrep.queries.find(_.name == "x57_pipeline_full").get.run(spark, sf)
    assert(globalRankWindows(pin) >= 1, "the pin's exact rank is a global window by design")
    // …the scale twin must not: selection is a per-row threshold compare.
    // (dsirWeights' whole-frame SUMs over the B-row bucket table remain —
    // bounded post-aggregation frames, the x26 shape — which is why this
    // asserts on RANKING windows, the corpus-sized-sort shape.)
    val twin = DataPrep.pipelineThreshold(docs)
    assert(globalRankWindows(twin) === 0,
      s"threshold twin must not rank globally:\n${twin.queryExecution.optimizedPlan}")
    // the oracle-keyed exactQuantile form (registered x57_pipeline_threshold)
    // shares the topology: the knob swaps only the quantile AGGREGATE
    val twinExact = DataPrep.pipelineThreshold(docs, exactQuantile = true)
    assert(globalRankWindows(twinExact) === 0,
      s"exactQuantile form must not rank globally either:\n${twinExact.queryExecution.optimizedPlan}")
    // stage consistency: the target (en) leg is selection-rule-independent,
    // so per-split en-survivor mass is shared with the pin; totals differ
    // only in how many RAW docs the threshold keeps (bounded by raw count)
    val out = twin.select("split", "n_docs", "sum_tokens", "removed_tokens", "n_sources")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.map(_._1).toSet.subsetOf(Set("train", "val", "test")) &&
      out.map(_._1).contains("train"))
    val corpus = DataPrep.pipelineCorpus(docs)
    val nEn = corpus.filter(col("lang") === "en").count()
    val nRaw = corpus.filter(col("lang") =!= "en").count()
    val total = out.map(_._2).sum
    assert(total >= nEn, s"every target-lang survivor must be kept: $total < $nEn")
    assert(total <= nEn + nRaw, s"kept raw docs cannot exceed raw survivors: $total")
    // the threshold rule keeps SOME raw docs (keepFrac=0.2 of a real
    // score distribution) without keeping them all
    assert(total > nEn && total < nEn + nRaw, s"threshold must bind: $total ($nEn en, $nRaw raw)")
  }

  test("fused pqTrain equals independent per-slice trainQuantizer chains") {
    // the r16 optimization trains all m subspace codebooks in ONE job per
    // round (exploded subspace frame); this pins it bit-identical to the
    // original formulation — m independent trainQuantizer chains over
    // explicit slices — on the real fixture
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val viDf = Similarity.fixedPoint(emb).select("vec_id", "vi")
    val fused = Similarity.pqTrain(viDf, m = Similarity.PqM, nc = Similarity.NC).toMap
    val sub = Similarity.PqSub
    (0 until Similarity.PqM).foreach { s =>
      val slice = viDf.select(col("vec_id"), expr(s"slice(vi, ${s * sub + 1}, $sub)").as("vi"))
      val solo = Similarity.trainQuantizer(slice, Similarity.NC)
      assert(fused(s) === solo, s"subspace $s codebooks diverged")
    }
  }

  test("x58/x59 PQ: full code coverage, true argmin assignment, ADC recall vs exact L2") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val codes = Similarity.pqCodes(emb).cache()
    // every vector gets exactly one code per subspace, codes in [0, NC)
    assert(codes.count() === n * Similarity.PqM)
    assert(codes.filter(col("code") < 0 || col("code") >= Similarity.NC).isEmpty)
    assert(codes.select("vec_id").distinct().count() === n)
    // assignment IS the argmin over the trained codebook (ties -> min cid):
    // recompute brute-force on the driver for every vector
    val viDf = Similarity.fixedPoint(emb).select("vec_id", "vi")
    val viMap = viDf.as[(Long, Seq[Long])].collect().toMap
    val trained = Similarity.pqTrain(viDf).toMap
    val sub = Similarity.PqSub
    def sqd(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val got = codes.select("vec_id", "m", "code").as[(Long, Long, Long)].collect()
    got.foreach { case (vid, m, code) =>
      val slice = viMap(vid).slice(m.toInt * sub, m.toInt * sub + sub)
      val best = trained(m.toInt).map { case (cid, ci) => (sqd(slice, ci), cid) }.min._2
      assert(code === best, s"vec $vid subspace $m")
    }
    // ADC reconstruction never ranks better than it should: recall@3 of the
    // 32-bit code representation vs the EXACT fixed-point L2 top-3 (the
    // metric ADC approximates; x06's cosine is a different ordering)
    val adc = Similarity.pqAdcKnn(emb, col("vec_id") < 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = (0L until 10L).map { q =>
      val qv = viMap(q)
      val top = viMap.toSeq.filter(_._1 != q)
        .map { case (vid, v) => (sqd(qv, v), vid) }.sorted.take(3).map(_._2).toSet
      q -> top
    }.toMap
    val hits = exact.map { case (q, t) => (adc.getOrElse(q, Set.empty) & t).size }.sum
    val recall = hits.toDouble / 30
    // 32-bit codes on near-uniform synthetic embeddings are PQ's worst
    // case — raw ADC recall is honestly low (measured 0.23); the pinned
    // floor guards against regressions, the production answer is x60
    assert(recall >= 0.15, s"ADC recall@3 vs exact L2 = $recall")
    // x60: ADC shortlist + exact rerank — recall is now the probability the
    // true neighbors make the shortlist, and the shortlist size is the knob
    def rerankRecall(shortlist: Int): Double = {
      val rr = Similarity.pqAdcRerank(emb, col("vec_id") < 10, shortlist = shortlist)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, t) => (rr.getOrElse(q, Set.empty) & t).size }.sum.toDouble / 30
    }
    val rr50 = rerankRecall(50)
    assert(rr50 >= 0.6, s"rerank(50) recall@3 vs exact L2 = $rr50 (ADC alone: $recall)")
    assert(rr50 >= recall, "rerank must never rank worse than raw ADC")
    val rr250 = rerankRecall(250)
    assert(rr250 >= 0.9 && rr250 >= rr50,
      s"rerank(250) recall@3 = $rr250 — the shortlist knob must recover the exact ranking")
    codes.unpersist()
  }

  test("x85 label retrieval: first same-label rank exact on a planted geometry") {
    def v(scale: Double) = Array.tabulate(64)(i => if (i == 0) scale.toFloat else 0f)
    val emb = Seq(
      (1L, v(1.0), 1), // the query
      (10L, v(0.9), 2), // nearest, wrong label
      (11L, v(0.8), 1), // rank 2 = first same-label hit
      (12L, v(0.7), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelRetrieval(emb, col("vec_id") < 10)
      .select("label", "n_queries", "mrr_sum_e6", "hit3", "hit10")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 1L, 500000L, 1L, 1L)))
  }

  test("x88 bm25 retrieval: shorter competitor outranks the source, unique terms hit rank 1") {
    // doc 7 queries with q1..q5 (positions 3-7); doc 1 contains all five
    // terms in a SHORTER body, so BM25 length normalization ranks it
    // first and the source lands at rank 2 (rr = 500000). doc 14's query
    // terms are corpus-unique -> only candidate, rank 1.
    val docs = Seq(
      (7L, "srcA", "z z q1 q2 q3 q4 q5 tail1 tail2"),
      (1L, "srcA", "q1 q2 q3 q4 q5 other words here"),
      (2L, "srcB", "unrelated text entirely different words of something"),
      (14L, "srcB", "u1 u2 r1 r2 r3 r4 r5")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.bm25Retrieval(docs)
      .select("source", "n_queries", "hits1", "hits10", "sum_rr_e6", "mrr_e6")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      ("srcA", 1L, 0L, 1L, 500000L, 500000L),
      ("srcB", 1L, 1L, 1L, 1000000L, 1000000L)))
    // the maxDfPpm scale knob: a 40% cap drops the q-terms (df 2/4) from
    // the postings, so doc 7's query loses every candidate INCLUDING
    // itself — recorded as a MISS (0 hits), not a vanished query: the
    // denominator is the issued-query count, so capped and exact MRR
    // stay comparable. doc 14's df=1/4 terms survive at rank 1.
    val capped = TextAnalysis.bm25Retrieval(docs, maxDfPpm = 400000L)
      .select("source", "n_queries", "hits1", "hits10", "sum_rr_e6", "mrr_e6")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(capped.toSeq === Seq(
      ("srcA", 1L, 0L, 0L, 0L, 0L),
      ("srcB", 1L, 1L, 1L, 1000000L, 1000000L)))
  }

  test("x91 rag index: identical docs collapse to one zero-error cell, chunks conserved") {
    // docs 0 and 1 are identical -> identical hash-embeds; both are seeds
    // (vec_ids 0 and 1000 < RagSeedCap) but the tie-break assigns both
    // chunks to cid 0, emptying cell 1000 (empty cells are not emitted).
    // doc 2 seeds and keeps its own cell. sse = 0 everywhere: every
    // member equals its centroid.
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),
      (2L, "omega psi chi phi")).toDF("doc_id", "text")
    val out = Similarity.ragIndex(docs)
      .select("cid", "n_chunks", "n_docs", "sse")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((0L, 2L, 2L, 0L), (2000L, 1L, 1L, 0L)))
    // conservation on the real corpus: every chunk lands in exactly one cell
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val total = Similarity.ragIndex(real).agg(sum("n_chunks")).as[Long].head()
    assert(total === DataPrep.chunkDocs(real).count())
  }

  test("x92 rag retrieval: periodic doc's identical sibling chunk retrieved at rank 1") {
    // doc 0: 24-token period over 56 words -> chunk 0 (tokens 1-32) and
    // chunk 1 (tokens 25-56) carry the SAME bag of tokens, so the sibling
    // sits at distance 0 -> rank 1. doc 7: distinct tokens; its sibling
    // shares the 8-token overlap and must beat doc 0's unrelated chunks.
    val a = (1 to 24).map(i => s"w$i")
    val docs = Seq(
      (0L, "sa", (a ++ a ++ a.take(8)).mkString(" ")),
      (7L, "sb", (1 to 56).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = Similarity.ragRetrieval(docs)
      .select("source", "n_queries", "hits1", "hits10", "sum_rr_e6", "mrr_e6")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      ("sa", 1L, 1L, 1L, 1000000L, 1000000L),
      ("sb", 1L, 1L, 1L, 1000000L, 1000000L)))
  }

  test("x93 quality calibration: cells partition the corpus, marginals recomputable") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.qualityCalibration(docs)
      .select("gopher", "lm", "n_docs", "sum_nw", "mean_score_e6")
      .as[(String, String, Long, Long, Long)].collect()
    // cells partition the corpus exactly
    assert(out.map(_._3).sum === docs.count())
    assert(out.map(r => (r._1, r._2)).distinct.length === out.length)
    // gopher marginal matches an independent recomputation of the keep rule
    val passDocs = TextAnalysis.gopherAnnotate(docs).filter(TextAnalysis.gopherKeep).count()
    assert(out.filter(_._1 == "pass").map(_._3).sum === passDocs)
    // within each gopher verdict, the low band's mean score sits below high's
    out.groupBy(_._1).foreach { case (_, rows) =>
      for {
        lo <- rows.find(_._2 == "low")
        hi <- rows.find(_._2 == "high")
      } assert(lo._5 < hi._5)
    }
  }

  test("x94 survivor regret: regret exact on planted clusters; keep-best repairs it") {
    // component 1 = {1,2,3} chained pairs; min-id keeps doc 1 (score 100)
    // but doc 2 holds 500 -> regret 400. component 10 = {10,11}: the
    // min-id survivor is already best -> regret 0.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val score = Seq((1L, 100L), (2L, 500L), (3L, 300L), (10L, 900L), (11L, 200L))
      .toDF("doc_id", "score_e4")
    val out = Dedup.survivorRegret(pairs, score)
      .select("component", "n_docs", "kept_score_e4", "best_score_e4", "regret_e4",
        "kept_is_best")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 3L, 100L, 500L, 400L, false),
      (10L, 2L, 900L, 900L, 0L, true)))
    // the remediation: keep-best survivors are the argmax-score docs, and
    // docs outside any pair (singletons) pass through untouched
    val docs = score.withColumnRenamed("score_e4", "s")
      .unionByName(Seq((99L, 50L)).toDF("doc_id", "s"))
    val best = DedupClusters.dedupByPairsKeepBest(docs, pairs, col("s"))
      .select("doc_id").as[Long].collect().sorted
    assert(best.toSeq === Seq(2L, 10L, 99L))
  }

  test("x95 keep-best gain: survivor counts invariant, global gain == x94 total regret") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.simhashPairs(docs)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
    val q = TextAnalysis.qualityPerDoc(docs).select("doc_id", "score_e4")
    val d = docs.select("doc_id", "source").join(q, "doc_id")
    val first = DedupClusters.dedupByPairs(d, pairs)
    val best = DedupClusters.dedupByPairsKeepBest(d, pairs, col("score_e4"))
    // both rules keep one doc per cluster plus every singleton
    assert(first.count() === best.count())
    // corpus quality never drops, and the improvement is exactly the
    // regret x94 measures (each cluster trades kept for best)
    val qFirst = first.agg(sum("score_e4")).as[Long].head()
    val qBest = best.agg(sum("score_e4")).as[Long].head()
    val regret = Dedup.survivorRegret(pairs, q).agg(sum("regret_e4")).as[Long].head()
    assert(qBest - qFirst === regret && regret > 0L)
  }

  test("x84 rare windows: unique doc fully rare, duplicated docs contribute zero risk") {
    val docs = Seq(
      (1L, "sa", "alpha beta gamma delta epsilon zeta eta"),
      (2L, "sb", "one two three four five six seven"),
      (3L, "sb", "one two three four five six seven") // exact dup of 2
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.rareWindows(docs)
      .select("source", "n_docs", "n_win", "n_rare", "rare_e6", "n_risky")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // 7 words -> 3 five-token windows per doc; sa's are corpus-unique
    // (fully extractable), sb's all have df = 2 (dedup survivors, no risk)
    assert(out.toSeq === Seq(
      ("sa", 1L, 3L, 3L, 1000000L, 1L),
      ("sb", 2L, 6L, 0L, 0L, 0L)))
  }

  test("x83 pad efficiency: length-grouping never loses, totals invariant across strategies") {
    val out = DataPrep.padEfficiency(spark.read.parquet(s"$sf/documents.parquet"))
      .select("strategy", "shard", "n_docs", "n_batches", "sum_tok", "pad_tok")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val byShard = out.groupBy(_._2)
    byShard.foreach { case (shard, rows) =>
      val arr = rows.find(_._1 === "arrival").get
      val len = rows.find(_._1 === "length").get
      // the same docs and token mass are batched either way
      assert(arr._3 === len._3 && arr._4 === len._4 && arr._5 === len._5)
      // sorted contiguous grouping minimizes the sum of batch maxima
      assert(len._6 <= arr._6, s"shard $shard: length pad ${len._6} > arrival ${arr._6}")
    }
    // and on a hash-ordered corpus the win must be real, not a tie
    assert(out.filter(_._1 === "length").map(_._6).sum <
      out.filter(_._1 === "arrival").map(_._6).sum)
  }

  test("x82 shard mixing: single-source stream is one run, hash order mixes the real corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // degenerate stream: one source -> exactly one run spanning each shard
    val mono = DataPrep.shardMixing(docs.withColumn("source", lit("only")))
      .select("n_docs", "n_sources", "n_runs", "max_run").as[(Long, Long, Long, Long)].collect()
    mono.foreach { case (nd, ns, nr, mx) =>
      assert(ns === 1L && nr === 1L && mx === nd)
    }
    // the real corpus in hash order must actually interleave: no shard may
    // spend more than a tenth of its stream inside one source run
    val real = DataPrep.shardMixing(docs)
      .select("n_docs", "max_run").as[(Long, Long)].collect()
    real.foreach { case (nd, mx) => assert(mx * 10 <= nd, s"run $mx of $nd") }
    assert(real.map(_._1).sum === docs.count())
  }

  test("x81 token budget: caps bind, budget never exceeded, redistribution only helps") {
    val out = graft.SparkEntry.queries("x81_token_budget")(spark, sf)
      .select("avail_tok", "plan0_tok", "planned_tok", "epochs_e6", "capped")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(out.exists(_._5), "fixture must exercise the capped branch")
    assert(out.exists(!_._5), "fixture must leave uncapped sources to redistribute to")
    val budget = out.map(_._1).sum * DataPrep.BudgetMult
    assert(out.map(_._3).sum <= budget, "total plan must never exceed the budget")
    out.foreach { case (avail, plan0, planned, epochs, capped) =>
      assert(planned <= DataPrep.EpochCap * avail, "the epoch cap is a hard ceiling")
      assert(epochs <= DataPrep.EpochCap * 1000000L)
      if (capped) assert(planned === DataPrep.EpochCap * avail)
      else assert(planned >= plan0, "redistribution can only add tokens to uncapped sources")
    }
  }

  test("x80 freq spectrum: doubling buckets exact on a controlled fixture") {
    // frequencies 1, 2, 3, 4, 8 -> buckets 1, 2, 2, 3, 4
    val docs = Seq(
      (1L, "once twice twice thrice thrice thrice quad quad quad quad"),
      (2L, "eight eight eight eight eight eight eight eight")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.freqSpectrum(docs)
      .select("bucket", "lo_freq", "n_types", "n_occ").as[(Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 1L, 1L, 1L), (2L, 2L, 2L, 5L), (3L, 4L, 1L, 4L), (4L, 8L, 1L, 8L)))
    // checksum pins membership: moving one occurrence must flip two rows
    val moved = Seq(
      (1L, "once once twice thrice thrice thrice quad quad quad quad"),
      (2L, "eight eight eight eight eight eight eight eight")
    ).toDF("doc_id", "text")
    val a = TextAnalysis.freqSpectrum(docs).select("bucket", "checksum")
      .as[(Long, Long)].collect().toMap
    val b = TextAnalysis.freqSpectrum(moved).select("bucket", "checksum")
      .as[(Long, Long)].collect().toMap
    assert(a(1L) !== b.getOrElse(1L, 0L))
  }

  test("x79 ivfpq add: identical re-arrivals are a per-cell subset with bounded error") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val nCopies = emb.filter(col("vec_id") % 7 === 0).count()
    val copies = Similarity.fixedPoint(emb).filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("vi"))
    val out = Similarity.ivfPqAdd(emb, copies)
      .select("cid", "n_base", "n_add", "base_qerr", "add_qerr")
      .as[(Long, Long, Long, Long, Long)].collect()
    // exact copies route to the SAME cells (same distances, same
    // tie-break) and code to the SAME centroids, so per cell the adds are
    // a subset of the base: counts and quantization error are bounded,
    // and nothing lands in a cell the subset's members don't occupy
    assert(out.map(_._3).sum === nCopies, "every arriving vector must be assigned exactly once")
    out.foreach { case (cid, nb, na, be, ae) =>
      assert(na <= nb, s"cell $cid: $na adds but only $nb base members")
      assert(ae <= be, s"cell $cid: copy error $ae exceeds base $be")
      assert(ae >= 0 && be >= 0)
    }
  }

  test("x78 bpe fertility: merge-friendly language compresses further, counts exact") {
    // 'aa' docs are pure repetition (merges collapse each word to ONE
    // token: 4 chars/token); 'bb' words are 2-char and can only reach 2
    val docs = Seq(
      (1L, "aa", "abab abab abab abab"),
      (2L, "aa", "abab abab"),
      (3L, "bb", "xq zr xq zr")
    ).toDF("doc_id", "lang", "text")
    val merges = TextAnalysis.bpeTrain(docs).map(m => (m._2, m._3))
    val out = TextAnalysis.bpeFertility(docs, merges)
      .select("lang", "n_docs", "n_char", "n_sym", "cps_e6")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(("aa", 2L, 24L, 6L, 4000000L), ("bb", 1L, 8L, 4L, 2000000L)))
  }

  test("x77 cms heavy hitters: never underestimates, candidates = the exact top-k") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.cmsHeavyHitters(docs)
      .select("h", "gram", "cnt", "est", "overcount")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out.length === TextAnalysis.TopNgramN)
    // the CMS estimate is min over d counters each >= the true count
    out.foreach { case (_, g, cnt, est, over) =>
      assert(est >= cnt, s"'$g' underestimated: $est < $cnt")
      assert(over === est - cnt)
    }
    // the audited candidate set is EXACTLY the x71 exact top-k, same order
    val exact = TextAnalysis.topNgrams(docs)
      .select("h", "gram", "cnt").as[(Long, String, Long)].collect()
    assert(out.map(t => (t._1, t._2, t._3)).toSeq === exact.toSeq)
  }

  test("x76 centroid classifier: learns disjoint vocabularies, held-out docs classified perfectly") {
    // ids routed to train/held-out by the REAL x19 split hash, so the spec
    // exercises the same bucketing the registered query uses
    def bucket(id: Long) = XHash.h60(id.toString) % 100
    val ids = (1L to 400L)
    val trainIds = ids.filter(bucket(_) < 90).take(40)
    val testIds = ids.filter(bucket(_) >= 90).take(10)
    // disjoint class vocabularies plus one SHARED token, so every doc
    // scores against BOTH prototypes and the argmax is a real decision
    def mk(id: Long) = {
      val a = id % 2 == 0
      (id, if (a) "aa" else "bb",
        (if (a) "apple banana cherry date elder fig grape" else "metal copper iron nickel zinc lead tin") + " the")
    }
    val docs = (trainIds ++ testIds).map(mk).toDF("doc_id", "lang", "text")
    val out = DataPrep.centroidClassify(docs, col("lang"))
      .select("doc_id", "label", "pred", "score_e6").as[(Long, String, String, Long)].collect()
    assert(out.map(_._1).toSet === testIds.toSet)
    out.foreach { case (id, l, p, s) =>
      assert(p === l, s"doc $id predicted $p, wanted $l")
      assert(s > 0)
    }
  }

  test("x75 bloom decontam: never misses, false positives exist and are pure overcount") {
    val perDoc = DataPrep.bloomDecontam(spark.read.parquet(s"$sf/documents.parquet"))
      .select("n_sh", "n_maybe", "n_hit").as[(Long, Long, Long)].collect()
    assert(perDoc.nonEmpty)
    // a Bloom filter can overcount but never miss: maybe >= hit per doc,
    // and both are bounded by the doc's shingle count
    perDoc.foreach { case (nSh, maybe, hit) =>
      assert(hit <= maybe && maybe <= nSh, s"($nSh, $maybe, $hit)")
    }
    // at the pinned geometry (~49% fill, 3 probes) the corpus must exhibit
    // REAL false positives — otherwise the FP-rate audit is untested data
    val fp = perDoc.map { case (_, m, h) => m - h }.sum
    assert(fp > 0, "expected a nonzero false-positive count at this filter size")
    // and the filter must still discriminate: flagged < probed overall
    val (tot, maybeTot) = (perDoc.map(_._1).sum, perDoc.map(_._2).sum)
    assert(maybeTot < tot, s"filter saturated: $maybeTot of $tot shingles flagged")
  }

  test("x74 incremental dedup: every status forced by construction, admission idempotent") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact corpus dup
      (11L, "fresh new content number eleven entirely"),
      (12L, "fresh new content number eleven entirely"), // exact batch dup of 11
      (13L, "one two three four five six seven eight nine ten eleven thirteen"), // near-dup of 2
      (14L, "completely unrelated vocabulary nothing shared with anyone")
    ).toDF("doc_id", "text")
    val st = Dedup.incrementalDedup(corpus, batch)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(st(10L) === "dup_exact_corpus")
    // 11 and 12 share a key: the earlier HASH arrival is admitted, the
    // other is a batch-internal dup — exactly one of each
    assert(Set(st(11L), st(12L)) === Set("admitted", "dup_exact_batch"))
    assert(st(13L) === "near_dup_corpus", s"13 -> ${st(13L)}")
    assert(st(14L) === "admitted")
    // idempotence: fold the admitted docs into the corpus and re-present
    // the batch — every formerly-admitted doc is now an exact corpus dup,
    // nothing is admitted twice
    val admitted = batch.join(
      Dedup.incrementalDedup(corpus, batch).filter(col("status") === "admitted")
        .select("doc_id"), "doc_id")
    val again = Dedup.incrementalDedup(corpus.unionByName(admitted), batch)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(!again.values.exists(_ === "admitted"))
    assert(st.filter(_._2 === "admitted").keys.forall(id => again(id) === "dup_exact_corpus"))
    // persisted-state parity: signatures written to parquet and read back
    // (the `Cli admit --sigs` sidecar path) classify byte-identically to
    // the direct text path — zero text access on the sigs side
    val base = tmpDir("x74-sigs")
    Dedup.dedupSignatures(corpus).write.parquet(base.getPath + "/c")
    Dedup.dedupSignatures(batch).write.parquet(base.getPath + "/b")
    val viaSigs = Dedup.incrementalDedupSigs(
      spark.read.parquet(base.getPath + "/c"),
      spark.read.parquet(base.getPath + "/b"))
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(viaSigs === st)
  }

  test("x68 IVFPQ: candidates confined to probed cells, rerank recall beats raw ADC") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val viMap = Similarity.fixedPoint(emb).select("vec_id", "vi")
      .as[(Long, Seq[Long])].collect().toMap
    def sqd(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = (0L until 10L).map { q =>
      val qv = viMap(q)
      q -> viMap.toSeq.filter(_._1 != q).map { case (v, x) => (sqd(qv, x), v) }
        .sorted.take(3).map(_._2).toSet
    }.toMap
    val got = Similarity.ivfPqKnn(emb, col("vec_id") < 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the IVF invariant: a neighbor can ONLY come from one of the query's
    // nprobe probed cells — anything else means the inverted-list scan
    // leaked past the probe bound
    val vi = Similarity.fixedPoint(emb).select("vec_id", "vi")
    val cr = Similarity.quantizerRanked(vi, Similarity.trainQuantizer(vi))
    val cellOf = cr.filter(col("rn") === 1).select("vec_id", "cid")
      .as[(Long, Long)].collect().toMap
    val probed = cr.filter(col("vec_id") < 10 && col("rn") <= Similarity.NPROBE)
      .select("vec_id", "cid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    got.foreach { case (q, ns) =>
      ns.foreach(n => assert(probed(q).contains(cellOf(n)),
        s"neighbor $n of query $q sits in cell ${cellOf(n)}, outside probed ${probed(q)}"))
    }
    // end-to-end recall vs the exact L2 top-3: probing 2 of 8 cells caps
    // it at the cell-routing hit rate, and the exact rerank recovers the
    // true ordering inside probed cells (measured 0.87; floor guards
    // regressions). Deterministic — same data, same fixed-point algebra.
    val hits = exact.map { case (q, t) => (got.getOrElse(q, Set.empty) & t).size }.sum
    val recall = hits / 30.0
    assert(recall >= 0.8, s"IVFPQ recall@3 vs exact L2 = $recall")
    // nprobe = nc sweeps every cell: with the shortlist covering the
    // corpus, the search degrades to exact — recall must hit 1.0 (the
    // FAISS sanity identity)
    val full = Similarity.ivfPqKnn(emb, col("vec_id") < 10,
      nprobe = Similarity.NC, shortlist = viMap.size)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val fullHits = exact.map { case (q, t) => (full.getOrElse(q, Set.empty) & t).size }.sum
    assert(fullHits === 30, s"nprobe=nc + corpus shortlist must be exact, got $fullHits/30")
  }

  test("PQ/matryoshka/BPE checkpointDir knob: reliable materialization, results invariant") {
    // a session checkpoint dir only swaps executor-local blocks for
    // reliable checkpoints — every result must be bit-identical to the
    // default path (the x50 rule: it never changes values)
    val ckptDir = tmpDir("newops-ckpt").getPath + "/ckpt"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def reliable[T](body: => T): T = graft.Sessions.withCheckpointDir(spark, ckptDir)(body)
    val codesBase = Similarity.pqCodes(emb)
      .select("vec_id", "m", "code").as[(Long, Long, Long)].collect().toSet
    val codesCkpt = reliable(Similarity.pqCodes(emb)
      .select("vec_id", "m", "code").as[(Long, Long, Long)].collect().toSet)
    assert(codesCkpt === codesBase)
    val rrBase = Similarity.pqAdcRerank(emb, col("vec_id") < 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val rrCkpt = reliable(Similarity.pqAdcRerank(emb, col("vec_id") < 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet)
    assert(rrCkpt === rrBase)
    val mfBase = Similarity.matryoshkaFidelity(emb, col("vec_id") < 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val mfCkpt = reliable(Similarity.matryoshkaFidelity(emb, col("vec_id") < 5)
      .as[(Long, Long, Long, Long)].collect().toSeq)
    assert(mfCkpt === mfBase)
    val docs = Seq((1L, "aa ab"), (2L, "ab ab b")).toDF("doc_id", "text")
    assert(reliable(TextAnalysis.bpeTrain(docs)) === TextAnalysis.bpeTrain(docs))
    // the cuts were reliable ones under the scoped dir, and each scope
    // left the shared context without a dir
    assert(rddCheckpoints(ckptDir) > 0, s"no rdd checkpoints under $ckptDir")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("x71 top n-grams: hand fixture ranks the planted boilerplate first, hash = h60(gram)") {
    // "click here now" planted in 4 docs (5 occurrences); "read more below"
    // in 2; everything else unique filler
    val docs = Seq(
      (1L, "click here now alpha beta gamma click here now"),
      (2L, "delta click here now epsilon"),
      (3L, "zeta click here now eta read more below"),
      (4L, "theta read more below iota click here now"),
      (5L, "unique words only in this document")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.topNgrams(docs)
      .select("h", "gram", "cnt", "n_docs").as[(Long, String, Long, Long)].collect()
    assert(top.head._2 === "click here now" && top.head._3 === 5L && top.head._4 === 4L)
    assert(top.head._1 === XHash.h60("click here now"))
    val rm = top.find(_._2 === "read more below").get
    assert(rm._3 === 2L && rm._4 === 2L)
    // ranking is (cnt desc, h) — verify the order the query pins
    assert(top.map(r => (-r._3, r._1)).toSeq === top.map(r => (-r._3, r._1)).sortBy(identity).toSeq)
  }

  test("x62 BPE training: hand-checkable merges, frequency weighting, early exhaustion") {
    // vocab: aa(1), ab(3), b(1) — round 1 must pick (a b) by frequency 3,
    // round 2 (a a), then no pairs remain (every word is one symbol)
    val docs = Seq((1L, "aa ab"), (2L, "ab ab b")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, merges = 6)
    assert(merges === Seq(
      (1L, "a b", "ab", 3L),
      (2L, "a a", "aa", 1L)))
    // the documented replace semantics inside a repeated-symbol run:
    // "aaaa" merges one (a,a) pair per pass (non-overlapping left-to-right),
    // so (a a) wins twice before (aa aa) completes the word
    val runs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeTrain(runs, merges = 6)
    assert(m2 === Seq(
      (1L, "a a", "aa", 3L),
      (2L, "a a", "aa", 1L),
      (3L, "aa aa", "aaaa", 1L)))
    // ties break lexicographically: freq-1 vocab {xy, xz} — (x y) < (x z)
    val ties = Seq((1L, "xy xz")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrain(ties, merges = 1) === Seq((1L, "x y", "xy", 1L)))
    // x63 apply is bit-faithful to training: replaying the learned merges
    // collapses the training corpus to hand-checkable token counts
    val learned = merges.map(m => (m._2, m._3))
    val counts = TextAnalysis.bpeTokenCounts(docs, learned)
      .select("doc_id", "n_char", "n_sym", "cps_e6")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(counts === Array(
      (1L, 4L, 2L, 2000000L), // aa->1 sym, ab->1 sym
      (2L, 5L, 3L, 1666666L))) // ab, ab, b
    // with no merges every character is its own symbol
    val raw = TextAnalysis.bpeTokenCounts(docs, Seq.empty)
      .select("n_char", "n_sym").as[(Long, Long)].collect()
    assert(raw.forall { case (c, s) => c === s })
  }

  test("x65 matryoshka: full-dim leg is exact identity; coverage complete per prefix") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val rows = Similarity.matryoshkaFidelity(emb, col("vec_id") < 10)
      .select("dims", "n_pairs", "sum_absdiff_e4", "top1_preserved")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(8L, 16L, 32L, 64L))
    // every prefix sees every (query, neighbor) pair
    assert(rows.forall(_._2 === 30L))
    // the 64-prefix IS the full vector: zero cosine drift, every full-dim
    // best neighbor trivially preserved
    val full = rows.last
    assert(full._3 === 0L && full._4 === 10L)
    // shorter prefixes can only preserve a subset of queries' top-1
    assert(rows.forall(_._4 <= 10L))
  }

  test("x28 calibration: every LSH candidate bucketed, jaccard bounds sane") {
    val rows = Dedup.queries.find(_.name == "x28_minhash_calibration").get
      .run(spark, "/root/testdata/sf0.001")
      .select("n_match", "n_pairs", "min_jac_e4", "max_jac_e4")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (m, n, lo, hi) =>
      assert(m >= 1 && m <= Dedup.K)
      assert(n > 0)
      assert(lo >= 0 && hi <= 10000 && lo <= hi)
    }
    // total candidates == unthresholded minhashPairs count
    val total = Dedup.minhashPairs(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), 0).count()
    assert(rows.map(_._2).sum === total)
  }

  test("minWords floor routes short docs out of the sketch path") {
    // x28's calibration showed sub-shingle-length docs get degenerate
    // fingerprints (one whole-text shingle) — the floor keeps them out of
    // the sketch pair sets entirely; exact dedup (x01) owns short texts
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (3L, "zz"), // short: 1 token
      (4L, "zz")  // short exact-dup of 3 — exact dedup's job, not the sketch's
    ).toDF("doc_id", "text")
    val unfloored = Dedup.minhashPairs(docs, 0)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(unfloored.contains((3L, 4L))) // sketches DO fire on the short pair
    val floored = Dedup.minhashPairs(docs, 0, minWords = 3)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(!floored.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L))
    assert(floored.contains((1L, 2L))) // real near-dups unaffected
    val flooredSim = Dedup.simhashPairs(docs, minWords = 3)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(!flooredSim.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("x20 contamination fires on a train/test duplicate (zero on clean corpus is real)") {
    // pick doc_ids landing in train (<90) and test (>=95) buckets with the
    // driver twin of the split hash
    def bucket(id: Long): Long = XHash.h60(id.toString) % 100
    val trainId = (1L to 1000L).find(bucket(_) < 90).get
    val testIds = (1L to 1000L).filter(bucket(_) >= 95).take(2)
    val leaked = "this exact document leaked from train into test"
    val docs = Seq(
      (trainId, leaked, "a"),
      (testIds(0), "LEAKED,  from train into test exact document this".reverse, "a"), // unique
      (testIds(1), "This EXACT document leaked: from train into test!", "a")) // dup after norm
      .toDF("doc_id", "text", "source")
    val dir = tmpDir("x20").getPath
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = TextAnalysis.queries.find(_.name == "x20_contamination").get
      .run(spark, dir).collect()
    val test = rows.find(r => r.getString(r.fieldIndex("split")) == "test").get
    assert(test.getLong(test.fieldIndex("n_docs")) === 2L)
    assert(test.getLong(test.fieldIndex("n_contaminated")) === 1L)
  }

  test("knn: lsh bucket assignment is deterministic and complete") {
    val e = Similarity.withNorm(spark.read.parquet(s"$sf/embeddings.parquet"))
      .withColumn("bucket", Similarity.bucket(col("v")))
    val buckets = e.select("bucket").as[Long].collect()
    assert(buckets.forall(b => b >= 0 && b < (1 << Similarity.NP)))
    // deterministic: recompute equals first pass
    val again = e.select("bucket").as[Long].collect()
    assert(buckets.toSeq === again.toSeq)
  }

  test("x53 vocab growth: conservation, monotone cumulative, every phase covered") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = TextAnalysis.vocabGrowth(docs)
      .select("phase", "n_docs", "n_tok", "new_terms", "cum_vocab")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // every doc and token lands in exactly one phase
    assert(rows.map(_._2).sum === docs.count())
    val totTok = docs.agg(sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[Long].head()
    assert(rows.map(_._3).sum === totTok)
    // new_terms sums to the global vocabulary and the running sum matches
    val vocab = docs
      .select(explode(split(col("text"), "\\s+")).as("t"))
      .agg(countDistinct("t")).as[Long].head()
    assert(rows.map(_._4).sum === vocab)
    assert(rows.last._5 === vocab)
    rows.scanLeft(0L)((acc, r) => acc + r._4).tail
      .zip(rows.map(_._5)).foreach { case (expect, got) => assert(got === expect) }
  }

  test("x54 proto prune: kept = ceil(n/2) per cluster, kept are the farthest from centroid") {
    val perVec = Similarity.protoPrune(spark.read.parquet(s"$sf/embeddings.parquet")).cache()
    val byC = perVec.groupBy("cid").agg(
      count(lit(1)).as("n"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("k"),
      min(when(col("kept"), col("dist"))).as("min_kept"),
      max(when(!col("kept"), col("dist"))).as("max_drop"))
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
    assert(byC.nonEmpty)
    byC.foreach { case (cid, n, k, minKept, maxDrop) =>
      assert(k === (n + 1) / 2, s"cid=$cid")
      // the keep rule is a clean cut in distance: no dropped vector is
      // farther from its centroid than any kept one
      (minKept, maxDrop) match {
        case (Some(a), Some(b)) => assert(a >= b, s"cid=$cid")
        case _                  => ()
      }
    }
  }

  test("x55 bitext margin: queries non-target, matches target, margin non-negative") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = Similarity.bitextMargin(
      spark.read.parquet(s"$sf/embeddings.parquet"), docs)
      .select("query_id", "best_id", "second_id", "cos_best4", "margin4")
      .as[(Long, Long, Long, Double, Double)].collect()
    val lang = docs.select("doc_id", "lang").as[(Long, String)].collect().toMap
    assert(rows.length === lang.count(_._2 != "en"))
    rows.foreach { case (q, b, s2, cb, m) =>
      assert(lang(q) !== "en")
      assert(lang(b) === "en" && lang(s2) === "en")
      assert(b !== s2)
      assert(m >= 0.0 && cb >= -1.0001 && cb <= 1.0001)
    }
  }

  test("x52 cluster cap: every vector assigned once, kept = min(cap, size), quality-top") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val perDoc = Similarity.clusterCapped(
      emb, spark.read.parquet(s"$sf/documents.parquet")).cache()
    assert(perDoc.count() === emb.count())
    val byC = perDoc.groupBy("cid").agg(
      count(lit(1)).as("n"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("k"),
      min(when(col("kept"), col("score_e4"))).as("min_kept"),
      max(when(!col("kept"), col("score_e4"))).as("max_drop"))
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
    assert(byC.nonEmpty)
    byC.foreach { case (cid, n, k, minKept, maxDrop) =>
      assert(k === math.min(Similarity.ClusterCap.toLong, n), s"cid=$cid")
      // no dropped doc may out-score a kept one in the same cluster
      (minKept, maxDrop) match {
        case (Some(a), Some(b)) => assert(a >= b, s"cid=$cid")
        case _                  => ()
      }
    }
  }

  test("x96 boilerplate: frequent lines stripped in order, unique lines survive, idempotent") {
    // 6 docs share a footer (df = 6 >= 5); doc 1 has it mid-text; every
    // doc also has a unique content line that must survive
    val docs = (1L to 6L).map { i =>
      val t =
        if (i == 1) s"keep alpha $i\nshared footer line\nkeep beta $i"
        else s"keep alpha $i\nkeep beta $i\nshared footer line"
      (i, s"s${i % 2}", t)
    }.toDF("doc_id", "source", "text")
    val audit = DataPrep.boilerplateAudit(docs)
      .select("source", "n_docs", "n_lines", "lines_removed", "n_boiler_distinct")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    // each source: 3 docs x 3 lines, one removed per doc, one distinct template
    assert(audit.toSeq === Seq(("s0", 3L, 9L, 3L, 1L), ("s1", 3L, 9L, 3L, 1L)))
    val stripped = DataPrep.stripBoilerplate(docs)
    val texts = stripped.select("doc_id", "text").as[(Long, String)].collect().toMap
    // footer gone, survivors keep original order (incl. the mid-text case)
    (1L to 6L).foreach(i => assert(texts(i) === s"keep alpha $i\nkeep beta $i"))
    // idempotent: surviving lines kept their document frequency (< minDf)
    val twice = DataPrep.stripBoilerplate(stripped)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(twice === texts)
  }

  test("x97 split drift: full cell domain, shares sum to ~1e6, drift is share minus corpus share") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = DataPrep.splitDrift(docs)
      .select("split", "source", "n_docs", "share_ppm", "corpus_ppm", "drift_ppm")
      .as[(String, String, Long, Long, Long, Long)].collect()
    // every (split, source) cell exists, even empty ones
    assert(out.length === 3 * 20)
    assert(out.map(_._3).sum === 500L)
    // shares within a split sum to 1e6 up to floor loss (< |sources| ppm)
    out.groupBy(_._1).foreach { case (_, cells) =>
      val tot = cells.map(_._4).sum
      assert(tot <= 1000000L && tot > 1000000L - 20L)
    }
    // per-row identity, and an empty cell's drift is exactly -corpus_ppm
    out.foreach { case (_, _, n, share, corpus, drift) =>
      assert(drift === share - corpus)
      if (n == 0L) assert(share === 0L && drift === -corpus)
    }
    assert(out.exists(_._3 == 0L))
  }

  test("x98 hubness: planted hub dominates, degrees account for every vector and edge") {
    // hub at angle 0; satellites at +/-60 degrees are each other's far
    // neighbors but the hub's near one -> top-1 graph: 1 -> 0, 2 -> 0,
    // 0 -> 1 (cos tie at 0.5 broken by neighbor_id)
    val c = math.cos(math.Pi / 3).toFloat
    val s = math.sin(math.Pi / 3).toFloat
    val emb = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(c, s)),
      (2L, Array(c, -s))).toDF("vec_id", "embedding")
    val out = Similarity.hubnessFromKnn(Similarity.knnBrute(emb, lit(true), 1), emb)
      .select("in_degree", "n_vecs").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((0L, 1L), (1L, 1L), (2L, 1L)))
    // on the real fixture: every vector accounted, every edge counted once
    val e500 = spark.read.parquet(s"$sf/embeddings.parquet")
    val dist = Similarity.hubnessFromKnn(Similarity.knnBrute(e500, lit(true)), e500)
      .select("in_degree", "n_vecs").as[(Long, Long)].collect()
    assert(dist.map(_._2).sum === 500L)
    assert(dist.map(t => t._1 * t._2).sum === 3L * 500L)
  }
}
