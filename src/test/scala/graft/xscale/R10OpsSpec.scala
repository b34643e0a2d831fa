package graft.xscale

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-10 operators: x137 centered LSH — the x136→x137 audit→remediation
  * pair pinned before/after on an anisotropic fixture, with ANN recall
  * held.
  */
class R10OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The collapsed-cone fixture: every vector is a shared offset plus a
    * small deterministic per-vector jitter — x124's anisotropy failure
    * mode, where the MEAN offset (not relative geometry) decides nearly
    * every hyperplane bit. Built from the real embeddings so the jitter
    * structure (and exact brute-force neighborhoods) are non-trivial.
    */
  private def anisotropic = graft.query.Registry
    .table(spark, sf, "embeddings")
    .select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(0.8 + 0.1 * x AS FLOAT))").as("embedding"),
      col("label"))

  test("x137 centered LSH: hot anisotropic buckets disperse, raw geometry unchanged") {
    def health(df: org.apache.spark.sql.DataFrame, centered: Boolean)
        : Seq[(Long, Long, Long, Long, Long, Long, Long)] =
      (if (centered) Similarity.lshBucketHealthCentered(df) else Similarity.lshBucketHealth(df))
        .select("tbl", "n_vecs", "n_buckets", "max_occ", "max_share_e6",
          "mean_occ_e6", "sum_pairs")
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq

    val raw = health(anisotropic, centered = false)
    val cen = health(anisotropic, centered = true)
    assert(raw.length == Similarity.NL && cen.length == Similarity.NL)
    // the disease: on the cone, raw LSH collapses — on average the hottest
    // bucket holds nearly everything
    val n = raw.head._2
    assert(raw.map(_._4).max == n, "some raw table is fully collapsed on the cone")
    // the cure, in the audit's own currency: strictly fewer candidate
    // pairs and a smaller hottest-bucket share, summed across tables
    assert(cen.map(_._7).sum < raw.map(_._7).sum,
      s"centered pair mass must drop: ${cen.map(_._7).sum} vs ${raw.map(_._7).sum}")
    assert(cen.map(_._4).max < raw.map(_._4).max,
      "centered hottest bucket must shrink")
    assert(cen.map(_._3).sum > raw.map(_._3).sum,
      "centering occupies more buckets")
    // on the WELL-BEHAVED fixture, centering must not degrade health:
    // pair mass stays in the same regime (no collapse introduced)
    val emb = graft.query.Registry.table(spark, sf, "embeddings")
    val rawReal = health(emb, centered = false)
    val cenReal = health(emb, centered = true)
    assert(cenReal.map(_._7).sum <= rawReal.map(_._7).sum,
      "centering never increases total pair mass on the real fixture")
  }

  test("x137 recall held: centered index keeps ANN recall while probing fewer candidates") {
    val sel = col("vec_id") % Similarity.RecallMod === 0
    def recallOf(approx: org.apache.spark.sql.DataFrame,
        emb: org.apache.spark.sql.DataFrame): Long = {
      val exact = Similarity.knnBrute(emb, sel)
      Similarity.annRecall(approx, exact, emb)
        .agg(sum("n_hit").as("h"), sum("n_exact").as("e"))
        .select(expr("(1000000 * h) div e")).as[Long].head()
    }
    val a = anisotropic
    val emb = graft.query.Registry.table(spark, sf, "embeddings")
    val rCenCone = recallOf(Similarity.knnLshCentered(a, sel), a)
    val rRawCone = recallOf(Similarity.knnLsh(a, sel), a)
    val rRawReal = recallOf(Similarity.knnLsh(emb, sel), emb)
    val rCenReal = recallOf(Similarity.knnLshCentered(emb, sel), emb)
    // raw LSH on the cone is SECRETLY brute force (hot buckets = probe
    // everything — measured 1.0 recall at exploded pair mass, the
    // deceptive ceiling x136 warns about)
    assert(rRawCone >= 900000L, s"collapsed raw LSH recalls like brute force: $rRawCone")
    // "recall held" means: the centered index on the PATHOLOGICAL corpus
    // recalls at the level a HEALTHY corpus gives the raw index (x113's
    // baseline), while x136-vs-x137 above proves ~NL*2^NP-fold fewer
    // candidate pairs. Measured: 586666 vs baseline 600000.
    assert(rCenCone >= rRawReal - 50000L,
      s"centered-on-cone must hold the healthy baseline: $rCenCone vs $rRawReal")
    // and on the healthy corpus, centering does not cost recall at all
    // (measured: 626666 vs 600000 — it helps)
    assert(rCenReal >= rRawReal,
      s"centered recall on the real fixture: $rCenReal vs raw $rRawReal")
  }

  test("autoNp: occupancy-proportional plane count, clamped; auto index == pinned at small n") {
    // the formula: smallest np with 2^np * targetOcc >= n, clamped [NP, 24]
    assert(Similarity.autoNp(500) == Similarity.NP, "small corpora clamp to the pinned NP")
    assert(Similarity.autoNp(64L << Similarity.NP) == Similarity.NP)
    assert(Similarity.autoNp(100000, 64) == 11, "2^11*64 = 131072 >= 100000")
    assert(Similarity.autoNp(500000, 64) == 13)
    assert(Similarity.autoNp(Long.MaxValue / 4, 64) == 24, "upper clamp")
    // planes extend the pinned tables, never replace them
    assert(Similarity.planeFor(0, Similarity.NP - 1) == Similarity.tablePlanes(0)(Similarity.NP - 1))
    assert(Similarity.planeFor(0, 20).length == 64)
    // at fixture scale autoNp clamps to NP, so the auto index must return
    // EXACTLY the pinned index's graph (same planes, same rerank)
    val emb = graft.query.Registry.table(spark, sf, "embeddings")
    val sel = col("vec_id") % Similarity.RecallMod === 0
    val pinned = Similarity.knnLsh(emb, sel).collect().toSet
    val auto = Similarity.knnLshAuto(emb, sel).collect().toSet
    assert(auto == pinned, "clamped auto == pinned, row for row")
  }

  test("x138 IMI cells: product decomposition exact, audit identities, cost arithmetic") {
    val emb = graft.query.Registry.table(spark, sf, "embeddings")
    val n = emb.count()
    val cells = Similarity.imiAssign(emb).localCheckpoint()
    assert(cells.count() == n, "every vector gets exactly one cell")
    assert(cells.select("vec_id").distinct().count() == n)
    // cells decompose as c0 * NC + c1 with both halves in range
    val nc = Similarity.NC.toLong
    val bad = cells.filter(
      col("cell") < 0 || col("cell") >= nc * nc).count()
    assert(bad == 0, "cells live on the product grid")
    val audit = Similarity.imiCells(emb)
      .select("n_vecs", "n_cells", "max_occ", "max_share_e6", "sum_pairs",
        "flat_evals", "imi_evals")
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(audit._1 == n && audit._2 <= nc * nc && audit._2 > 0)
    assert(audit._4 == 1000000L * audit._3 / n)
    // pair mass recount against a materialized within-cell self-join
    val realPairs = cells.as("x").join(cells.as("y"),
      expr("x.cell = y.cell AND x.vec_id < y.vec_id")).count()
    assert(audit._5 == realPairs, "sum_pairs == materialized self-join size")
    // the arithmetic the op exists to prove: same cell count, nc/2-fold
    // fewer assignment evals than a flat quantizer
    assert(audit._6 == n * nc * nc && audit._7 == n * 2 * nc)
    assert(audit._6 / audit._7 == nc / 2)
    // auto rule pins
    assert(Similarity.imiAutoNc(500) == Similarity.NC, "small corpora clamp to NC")
    assert(Similarity.imiAutoNc(500000, 64) == 89, "ceil(sqrt(500000/64))")
  }

  test("x50-IMI: every IMI-leg pair is a true cosine pair; identical vectors always pair") {
    val emb = graft.query.Registry.table(spark, sf, "embeddings")
    // (a) soundness: the IMI candidate structure can only SHRINK the pair
    // set vs all-pairs — every returned pair must truly clear tau
    val pairs = Dedup.embImiPairs(emb, tau = 0.45, ncHalf = Similarity.NC)
      .as[(Long, Long)].collect()
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(q => q * q).sum))
    }
    pairs.foreach { case (a, b) =>
      assert(cos(a, b) >= 0.45 - 1e-9, s"pair ($a,$b) cos=${cos(a, b)}")
    }
    // (b) identical vectors agree in BOTH half-space cells at any nc, so
    // a planted exact twin is always a candidate and always pairs
    val base = emb.limit(0).unionByName(
      emb.filter(col("vec_id") === 0).select(
        lit(900001L).as("vec_id"), col("embedding"), col("label"))
    ).unionByName(emb)
    val planted = Dedup.embImiPairs(base, tau = 0.45, ncHalf = Similarity.NC)
      .filter((col("a") === 0L && col("b") === 900001L) ||
        (col("a") === 900001L && col("b") === 0L)).count()
    assert(planted == 1L, "exact twin must land in the same product cell and pair")
    // (c) the joint form still dedups: survivors + dropped == corpus
    val docs = graft.query.Registry.table(spark, sf, "documents")
      .select("doc_id", "source", "text")
    val jd = Dedup.jointDedupImi(docs, emb)
    val n = docs.count()
    assert(jd.count() <= n && jd.count() > 0)
    assert(jd.select("doc_id").distinct().count() == jd.count())
  }

  test("zipf fixture: head-heavy df, long tail, and a df-cap that earns its keep") {
    val docs = graft.source.Synthetic.zipfDocs(spark, 2000L).localCheckpoint()
    // deterministic: regenerating yields the identical corpus
    val again = graft.source.Synthetic.zipfDocs(spark, 2000L)
    assert(docs.exceptAll(again).count() == 0 && again.exceptAll(docs).count() == 0)
    val df = docs
      .select(col("doc_id"), explode(array_distinct(XText.words(col("text")))).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val n = 2000L
    val nTerms = df.count()
    assert(nTerms > 2000, s"a real vocabulary, not the 31-word flat fixture: $nTerms")
    // Zipf shape: w1 is near-ubiquitous, the median term is rare
    val w1 = df.filter(col("tk") === "w1").select("df").as[Long].head()
    assert(w1 > n * 9 / 10, s"head word df: $w1 / $n")
    val tailShare = df.filter(col("df") <= n / 100).count() * 100 / nTerms
    assert(tailShare >= 60, s"long tail: $tailShare% of terms in <= 1% of docs")
    // the 10% df-cap drops a small head that carries MOST of the
    // candidate-join work — the property the flat fixture could never
    // exhibit (any useful cap there kept ~76%-df postings). Query terms
    // are drawn from running text, i.e. with token frequency, so the
    // expected per-query fan-out is sum(tf * df); the head's share of
    // THAT is what the cap removes.
    val tf = docs
      .select(explode(XText.words(col("text"))).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("tf"))
    val mass = df.join(tf, "tk")
      .withColumn("is_head",
        col("df") * 1000000L > graft.ScaleSmoke.ZipfDfCapPpm * n)
      .groupBy("is_head")
      .agg(count(lit(1)).as("n_terms"), sum(expr("tf * df")).as("work"))
      .as[(Boolean, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val (headTerms, headWork) = mass(true)
    val (tailTerms, tailWork) = mass(false)
    assert(headTerms * 20 < headTerms + tailTerms,
      s"pruned head is a sliver of the vocab: $headTerms/${headTerms + tailTerms}")
    assert(headWork * 100 > (headWork + tailWork) * 90,
      s"yet carries >90% of expected join work: $headWork/${headWork + tailWork}")
    // and capped retrieval still WORKS: the discriminative tail survives
    // the cap, so self-retrieval MRR holds >= 90% of the uncapped
    // baseline (measured 686332 vs 731603 — 6% quality for >90% of the
    // join work removed; the flat fixture could only offer 0 rows or
    // full cost)
    def mrr(cap: Long) = TextAnalysis.bm25Retrieval(docs, maxDfPpm = cap)
      .agg(expr("sum(sum_rr_e6) div sum(n_queries)")).as[Long].head()
    val (capped, uncapped) = (mrr(graft.ScaleSmoke.ZipfDfCapPpm), mrr(1000000L))
    assert(uncapped > 600000L, s"zipf self-retrieval is non-degenerate: $uncapped")
    assert(capped * 10 >= uncapped * 9,
      s"capped holds >=90% of uncapped MRR: $capped vs $uncapped")
  }
}
