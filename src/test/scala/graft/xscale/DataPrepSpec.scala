package graft.xscale

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Invariants for the x21-x26 data-prep operators that the DuckDB oracle's
  * value-hash can't express directly: conservation (packing loses no
  * tokens), exact quota behavior, quantizer range, containment threshold,
  * and mixture-rate caps. All at sf0.001.
  */
class DataPrepSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def run(name: String) =
    DataPrep.queries.find(_.name == name).get.run(spark, dir)
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  test("x21 packing conserves every document and every token") {
    val hist = run("x21_pack_sequences")
      .agg(
        sum(col("docs_per_pack") * col("n_packs")).as("docs"),
        sum("sum_tokens").as("toks"))
      .as[(Long, Long)].head()
    val total = docs
      .agg(
        count(lit(1)),
        sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[(Long, Long)].head()
    assert(hist === total)
  }

  test("x21 no pack start overshoots the budget by more than one doc") {
    // a pack's docs start inside [pack*B, (pack+1)*B): at least
    // ceil(B / max_doc_tokens) minus straddle => every pack holds >= 1 doc
    val minDocs = run("x21_pack_sequences").agg(min("docs_per_pack")).as[Long].head()
    assert(minDocs >= 1L)
  }

  test("x22 returns exactly min(quota, stratum size) per language") {
    val sampled = run("x22_sample_stratified")
      .select("lang", "n_sampled").as[(String, Long)].collect().toMap
    val sizes = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    sizes.foreach { case (lang, n) =>
      val quota = if (lang == "en") 30L else 60L
      assert(sampled(lang) === math.min(quota, n), lang)
    }
  }

  test("x23 contamination counts are bounded and the split covers all held-out docs") {
    val rows = run("x23_contam_ngram")
      .select("n_docs", "sum_shingles", "sum_hits", "n_contaminated")
      .as[(Long, Long, Long, Long)].collect()
    rows.foreach { case (nd, nsh, nh, nc) =>
      assert(nh <= nsh); assert(nc <= nd)
    }
    val bucket = XHash.h60(col("doc_id").cast("string")) % 100
    val heldOut = docs.filter(bucket >= 90).count()
    assert(rows.map(_._1).sum === heldOut)
  }

  test("x24 quantized moments stay inside the int8 envelope") {
    val dim = 64L
    run("x24_embed_quantize")
      .select("n_vecs", "sum_q", "sum_q2", "n_saturated")
      .as[(Long, Long, Long, Long)].collect()
      .foreach { case (n, sq, sq2, nsat) =>
        assert(math.abs(sq) <= n * dim * 127)
        assert(sq2 >= 0 && sq2 <= n * dim * 127L * 127L)
        assert(nsat >= 0 && nsat <= n * dim)
      }
  }

  test("x25 containment pairs honor the 0.8 threshold and are directional") {
    val rows = run("x25_containment")
      .select("doc_id_a", "doc_id_b", "n_inter", "n_a")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, i, na) =>
      assert(a != b)
      assert(i <= na)
      assert(10 * i >= 8 * na)
    }
  }

  test("x26 rates cap at 1.0 and the dominant language is downsampled") {
    val rows = run("x26_mix_weights")
      .select("lang", "tokens", "rate_e6", "exp_tokens")
      .as[(String, Long, Long, Long)].collect()
    rows.foreach { case (_, toks, rate, exp) =>
      assert(rate <= 1000000L)
      assert(exp <= toks)
    }
    val top = rows.maxBy(_._2)
    val target = rows.map(_._2).sum / rows.length
    assert(top._2 > target) // en dominates the corpus
    assert(top._3 < 1000000L) // and therefore gets a fractional rate
  }

  test("x34 lag-window interval union == brute-force distinct-position count") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = DataPrep.substringCoverage(docs).cache()
    assert(out.count() == docs.count())
    assert(out.filter(col("covered") > col("nw") ||
      col("covered") > col("n_shared") * DataPrep.SubstrK ||
      (col("n_shared") > 0 && col("covered") < DataPrep.SubstrK)).isEmpty)
    // brute force: explode every shared window into its k positions,
    // count distinct — must equal the lag-union arithmetic exactly
    val k = DataPrep.SubstrK
    val w = docs.select(col("doc_id"), XText.words(col("text")).as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
    val gram = (0 until k).map(j => s"element_at(ws, CAST(i + $j AS INT))")
      .mkString("concat_ws(' ', ", ", ", ")")
    val occ = w.filter(col("nw") >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1L, nw - ${k - 1}), i -> struct(i AS p, " +
          s"CAST(conv(substring(md5($gram), 1, 15), 16, 10) AS BIGINT) AS h))")).as("o"))
      .select(col("doc_id"), col("o.p").as("p"), col("o.h").as("h"))
    val shared = occ.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("h")
    val brute = occ.join(shared, "h")
      .select(col("doc_id"), explode(expr(s"sequence(p, p + ${k - 1})")).as("pos"))
      .groupBy("doc_id").agg(countDistinct("pos").as("covered_bf"))
    val joined = out.filter(col("n_shared") > 0).join(brute, "doc_id")
    assert(joined.count() > 0) // the corpus HAS cross-doc duplicate substrings
    assert(joined.filter(col("covered") =!= col("covered_bf")).isEmpty)
    out.unpersist()
  }

  test("x36 chunks tile every doc: full coverage, stride spacing, bounded windows") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ch = DataPrep.chunkDocs(docs).cache()
    val (w, s) = (DataPrep.ChunkW, DataPrep.ChunkS)
    assert(ch.filter(col("n_tok") < 1 || col("n_tok") > w).isEmpty)
    // per doc: chunks start at 1, advance by exactly the stride, and the
    // last chunk ends exactly at the doc's token count
    val nw = docs.select(col("doc_id"), size(XText.words(col("text"))).cast("long").as("nw"))
    val perDoc = ch.groupBy("doc_id").agg(
      min("start_tok").as("first"),
      max(col("start_tok") + col("n_tok") - 1).as("lastEnd"),
      count(lit(1)).as("nc"),
      max("chunk_id").as("maxId"))
    val bad = perDoc.join(nw, "doc_id").filter(
      col("first") =!= 1 || col("lastEnd") =!= col("nw") || col("maxId") =!= col("nc") - 1 ||
        col("nc") =!= (lit(1L) + when(col("nw") > w, expr(s"(nw - $w + ${s - 1}) div $s"))
          .otherwise(lit(0L))))
    assert(bad.isEmpty)
    // a doc at most one window long is exactly its own single chunk
    val single = ch.join(nw, "doc_id").filter(col("nw") <= w)
    assert(single.filter(col("chunk_id") =!= 0 || col("n_tok") =!= col("nw")).isEmpty)
    ch.unpersist()
  }

  test("x37 diff statuses match the modulus rules exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "text")
    val ids = docs.select("doc_id").as[Long].collect().toSet
    val out = DataPrep.corpusDiff(docs, DataPrep.corpusV2(docs))
      .groupBy("status").count().as[(String, Long)].collect().toMap
    assert(out.keySet == Set("added", "removed", "changed", "unchanged"))
    assert(out("removed") == ids.count(_ % 17 == 0))
    assert(out("added") == ids.count(_ % 23 == 0))
    assert(out("changed") == ids.count(i => i % 13 == 0 && i % 17 != 0))
    assert(out.values.sum == ids.size + ids.count(_ % 23 == 0))
    // tok_b - tok_a == +1 word for every changed doc (the ' rev2' suffix)
    val changed = DataPrep.corpusDiff(docs, DataPrep.corpusV2(docs))
      .filter(col("status") === "changed")
    assert(changed.filter(col("tok_b") =!= col("tok_a") + 1).isEmpty)
  }

  test("x38 datasheet invariants hold and totals reconcile") {
    val rows = run("x38_datasheet")
      .select("source", "n_docs", "tokens", "dup_excess", "vocab", "langs", "min_tok", "max_tok")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, toks, dup, vocab, langs, lo, hi) =>
      assert(dup >= 0 && dup < n)
      assert(vocab >= 1 && vocab <= toks)
      assert(langs >= 1)
      assert(lo <= hi && n * lo <= toks && toks <= n * hi)
    }
    val total = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(rows.map(_._2).sum == total)
  }

  test("x40 approximate datasheet tracks the exact one within 3x rsd") {
    val exact = run("x38_datasheet")
      .select("source", "vocab", "dup_excess").as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val approx = run("x40_datasheet_approx")
      .select("source", "vocab_approx", "dup_excess_approx")
      .as[(String, Long, Long)].collect()
    assert(approx.nonEmpty && approx.length == exact.size)
    approx.foreach { case (src, vApprox, _) =>
      val (vExact, _) = exact(src)
      assert(math.abs(vApprox - vExact) <= math.max(3, (0.15 * vExact).toLong),
        s"$src vocab approx=$vApprox exact=$vExact")
    }
  }

  test("x35 temperature weights are normalized, sub-linear and budget-consistent") {
    val rows = run("x35_temp_schedule")
      .select("source", "tokens", "w_e6", "target_tokens", "epochs_e6")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val wSum = rows.map(_._3).sum
    // floor rounding loses at most 1 ulp-e6 per source
    assert(wSum <= 1000000L && wSum >= 1000000L - rows.length)
    val budget = rows.map(_._2).sum
    rows.foreach { case (_, toks, w, target, epochs) =>
      assert(target == budget * w / 1000000L)
      assert(epochs == budget * w / toks)
    }
    // tau = 0.5 flattens: the biggest source's weight share must sit BELOW
    // its token share, the smallest source's above
    val big = rows.maxBy(_._2)
    val small = rows.minBy(_._2)
    if (big._2 > small._2) {
      assert(big._3.toDouble / 1e6 < big._2.toDouble / budget)
      assert(small._3.toDouble / 1e6 > small._2.toDouble / budget)
    }
  }

  test("x49 manifest: conserves docs and tokens, checksum flips on any content change") {
    val man = DataPrep.shardManifest(docs).cache()
    val total = docs.agg(
      count(lit(1)),
      sum(size(XText.words(col("text"))).cast("long"))).as[(Long, Long)].head()
    assert(man.agg(sum("n_docs"), sum("sum_tokens")).as[(Long, Long)].head() === total)
    // reversing ONE doc's word order keeps every token count (so every
    // pack assignment) identical but changes content: exactly that doc's
    // (shard, pack) checksum must flip, all other rows byte-identical
    val victim = docs.select(min("doc_id")).as[Long].head()
    val edited = docs.withColumn(
      "text",
      when(col("doc_id") === victim,
        concat_ws(" ", reverse(XText.words(col("text")))))
        .otherwise(col("text")))
    val man2 = DataPrep.shardManifest(edited)
    val joined = man.select(col("shard"), col("pack"), col("n_docs").as("d1"),
      col("sum_tokens").as("t1"), col("checksum").as("c1"))
      .join(man2.select(col("shard"), col("pack"), col("n_docs").as("d2"),
        col("sum_tokens").as("t2"), col("checksum").as("c2")),
        Seq("shard", "pack"), "full_outer")
    assert(joined.filter(col("d1").isNull || col("d2").isNull).isEmpty) // same rows
    assert(joined.filter(col("d1") =!= col("d2") || col("t1") =!= col("t2")).isEmpty)
    assert(joined.filter(col("c1") =!= col("c2")).count() === 1L)
    man.unpersist()
  }

  test("x48 sketch union: exact distincts verified by hand, estimates in envelope") {
    // two versions sharing one doc per source: union distincts = 3 per
    // source (HLL is exact at this cardinality, so union_ok must hold)
    val a = Seq(
      (1L, "s1", "alpha beta gamma"), (2L, "s1", "delta epsilon zeta"),
      (3L, "s2", "eta theta iota")).toDF("doc_id", "source", "text")
    val b = Seq(
      (1L, "s1", "alpha beta gamma"), // unchanged → same norm key
      (4L, "s1", "kappa lambda mu"),
      (3L, "s2", "eta theta iota"), (5L, "s2", "nu xi omicron")).toDF("doc_id", "source", "text")
    val out = DataPrep.sketchUnionDatasheet(a, b)
      .select("source", "n_a", "n_b", "uniq_union", "union_ok")
      .as[(String, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(("s1", 2L, 2L, 3L, true), ("s2", 1L, 2L, 2L, true)))
    // the real corpus pair stays inside the envelope too (what the oracle pins)
    val docs = docs01Lazy
    val real = DataPrep.sketchUnionDatasheet(docs, DataPrep.corpusV2(docs))
    assert(real.filter(!col("union_ok")).isEmpty)
  }

  private lazy val docs01Lazy =
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "source", "text")

  test("x43 span removal: subsequence, conservation, untouched docs, one copy survives") {
    val out = DataPrep.removeSharedSpans(docs).cache()
    val cov = DataPrep.substringCoverage(docs).cache()
    assert(out.count() == docs.count())
    // cleaned text is a subsequence: kept = nw - n_removed tokens, all
    // drawn from the original in order (prefix property checked via
    // token multiset containment per doc)
    val orig = docs.select(col("doc_id"), XText.words(col("text")).as("ws"))
    // (split("") yields one empty token, so empty cleaned text counts as 0)
    val bad = out.join(orig, "doc_id").filter(
      when(col("text_clean") === "", 0L)
        .otherwise(size(XText.words(col("text_clean"))).cast("long")) =!=
        col("nw") - col("n_removed"))
    assert(bad.isEmpty)
    // docs with zero shared coverage are byte-identical after cleaning
    val untouched = cov.filter(col("n_shared") === 0).select("doc_id")
    val changed = out.join(untouched, "doc_id").join(docs, "doc_id")
      .filter(col("text_clean") =!= col("text"))
    assert(changed.isEmpty)
    // something was actually removed on this corpus (it has clone docs)
    assert(out.agg(sum("n_removed")).head().getLong(0) > 0)
    // one copy survives: every shared window's OWNER doc keeps at least
    // one token (owners are only cut by windows they don't own, and the
    // corpus' clone groups share everything — so owners keep all tokens)
    val k = DataPrep.SubstrK
    val occ = docs.select(col("doc_id"),
      posexplode(org.apache.spark.sql.graftnative.api.windowHash60(col("text"), k)).as(Seq("p0", "h")))
    val owners = occ.groupBy("h")
      .agg(min("doc_id").as("doc_id"), countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("doc_id").distinct()
    val gutted = out.join(owners, "doc_id").filter(col("n_removed") === col("nw"))
    assert(gutted.isEmpty)
    out.unpersist(); cov.unpersist()
  }

  test("x33 sampled-threshold buckets agree >= 95% with exact terciles") {
    // sf0.01: 500 docs, an 80% doc_id hash-sample trains the thresholds (fixture-sized: 500 docs give single-digit rank noise per threshold; a production sample is millions of docs).
    // This is the 100 TB path (no one-partition ntile sort); scores are
    // identical by construction, only the bucket boundary estimation
    // differs, so agreement measures exactly the sampling error.
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val exact = TextAnalysis.lmScore(docs01).select("doc_id", "bucket")
    val sampled = TextAnalysis.lmScoreSampled(docs01, sampleFraction = 0.8)
      .select(col("doc_id"), col("bucket").as("bucket_s"))
    val joined = exact.join(sampled, Seq("doc_id"))
    val n = joined.count()
    val agree = joined.filter(col("bucket") === col("bucket_s")).count()
    assert(n === docs01.count())
    assert(agree.toDouble / n >= 0.95, s"agreement $agree/$n")
    // sampled buckets are monotone in score: no doc in a higher bucket may
    // score below a doc in a lower one
    val rows = TextAnalysis.lmScoreSampled(docs01, 0.8)
      .select("bucket", "score_e6").as[(Long, Long)].collect()
    val maxByBucket = rows.groupBy(_._1).view.mapValues(_.map(_._2).max)
    val minByBucket = rows.groupBy(_._1).view.mapValues(_.map(_._2).min)
    for (b <- 1L to 2L if maxByBucket.contains(b) && minByBucket.contains(b + 1))
      assert(maxByBucket(b) <= minByBucket(b + 1))
  }

  test("x51 dsir: selection budget exact, target-vocab raw docs outrank off-target ones") {
    // query invariant: exactly min(TopK, #raw) docs selected across sources
    val (nRaw, nSel) = run("x51_dsir_select")
      .agg(sum("n_raw"), sum("n_sel")).as[(Long, Long)].head()
    assert(nSel === math.min(DataPrep.DsirTopK.toLong, nRaw))
    // fixture: the target speaks an alpha-vocabulary; raw docs either share
    // it (importance should be high) or speak a disjoint one (low)
    val fix = Seq(
      (0L, "t", true, "alpha beta gamma delta alpha beta"),
      (1L, "t", true, "beta gamma alpha delta beta gamma"),
      (10L, "r", false, "alpha beta gamma delta beta alpha"),
      (11L, "r", false, "zig zag zog zub zag zig"),
      (12L, "r", false, "gamma delta alpha beta delta gamma"),
      (13L, "r", false, "quux corge grault zub zag zog"))
      .toDF("doc_id", "source", "is_t", "text")
    val scores = DataPrep.dsirWeights(fix, col("is_t"))
      .select("doc_id", "score_e6").as[(Long, Long)].collect().toMap
    assert(scores.keySet === Set(10L, 11L, 12L, 13L)) // raw docs only
    assert(Seq(10L, 12L).map(scores).min > Seq(11L, 13L).map(scores).max)
  }

  test("x51 threshold path: kept set is score-downward-closed, kept count near target") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val keepFrac = 0.2
    val rows = DataPrep.dsirSelectThreshold(docs01, col("lang") === "en", keepFrac)
      .select("score_e6", "selected").as[(Long, Boolean)].collect()
    val (kept, dropped) = rows.partition(_._2)
    assert(kept.nonEmpty && dropped.nonEmpty)
    // the threshold rule keeps EXACTLY the top-m by score: no dropped doc
    // may out-score a kept one
    assert(kept.map(_._1).min >= dropped.map(_._1).max)
    // m tracks keepFrac within sampling slack (scores tie in runs, so the
    // induced m is the nearest tie boundary to the quantile)
    val m = kept.length.toDouble / rows.length
    assert(m > keepFrac / 2 && m < keepFrac * 2, s"kept fraction $m")
  }

  test("x64 decontam: ALL benchmark-span occurrences cut (x43 would keep one), rest intact") {
    val k = DataPrep.SubstrK // 8
    val benchPhrase = "alpha bravo charlie delta echo foxtrot golf hotel"
    val train = Seq(
      // contains the benchmark phrase TWICE plus clean text around it
      (1L, s"clean start $benchPhrase middle words here $benchPhrase clean end"),
      // entirely clean doc
      (2L, "nothing contaminated in this document at all whatsoever today"),
      // doc that IS exactly the benchmark phrase — fully emptied
      (3L, benchPhrase))
      .toDF("doc_id", "text")
    val bench = Seq((100L, s"benchmark context $benchPhrase more context")).toDF("doc_id", "text")
    val out = DataPrep.removeContaminatedSpans(train, bench, k)
      .select("doc_id", "n_removed", "text_clean")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    // doc 1: both 8-token occurrences cut — zero copies survive
    assert(!out.head._3.contains("alpha") && !out.head._3.contains("hotel"))
    assert(out.head._2 === 2L * k)
    assert(out.head._3 === "clean start middle words here clean end")
    // doc 2 untouched, doc 3 emptied
    assert(out(1) === ((2L, 0L, "nothing contaminated in this document at all whatsoever today")))
    assert(out(2)._2 === k && out(2)._3 === "")
    // contrast with x43 on the same union: keep-one-owner RETAINS a copy
    val spans = DataPrep.removeSharedSpans(train.unionByName(bench), k)
    val owners = spans.filter(col("text_clean").contains("alpha"))
    assert(owners.count() === 1L) // exactly one surviving copy under x43's rule
  }

  test("x67 heldout LM: hand-checkable probabilities, OOV penalizes, train never scored") {
    // train: "a b a b" -> model ab|a:2, ba|b:1; m1 a:2, b:1
    // val doc "a b c": ab seen (prob 1e6*2/2 = 1e6), bc OOV (0) -> score 500000
    // test doc "b a": ba seen (1e6*1/1) -> score 1e6, no OOV
    val docs = Seq(
      (1L, "train", "a b a b"),
      (2L, "val", "a b c"),
      (3L, "test", "b a"))
      .toDF("doc_id", "grp", "text")
    val out = TextAnalysis.lmHeldout(docs, col("grp") === "train", col("grp"))
      .select("split", "n_docs", "n_bigrams", "n_oov", "mean_score_e6")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      ("test", 1L, 1L, 0L, 1000000L),
      ("val", 1L, 2L, 1L, 500000L)))
    // a fully-OOV held-out doc scores zero, not an error
    val alien = docs.unionByName(Seq((4L, "val", "x y z")).toDF("doc_id", "grp", "text"))
    val v = TextAnalysis.lmHeldout(alien, col("grp") === "train", col("grp"))
      .filter(col("split") === "val")
      .select("n_docs", "n_oov", "mean_score_e6").as[(Long, Long, Long)].head()
    assert(v === ((2L, 3L, 250000L))) // (500000 + 0) div 2
  }

  test("x66 pack hygiene: clone corpus shows full dup excess, clean corpus none") {
    // production surface (no fixture augmentation): every doc identical —
    // inside ANY pack, all docs share the norm key, so dup_excess must be
    // exactly n_docs - 1 per pack
    val clones = (1L to 40L).map(i => (i, "s" + (i % 2), "identical text body here"))
      .toDF("doc_id", "source", "text")
    val rows = DataPrep.packHygiene(clones)
      .select("n_docs", "dup_excess").as[(Long, Long)].collect()
    assert(rows.map(_._1).sum === 40L)
    rows.foreach { case (n, d) => assert(d === n - 1) }
    // all-distinct corpus: zero dup excess anywhere
    val distinctDocs = (1L to 40L).map(i => (i, "s0", s"unique words for document number $i only"))
      .toDF("doc_id", "source", "text")
    val clean = DataPrep.packHygiene(distinctDocs)
      .select("dup_excess").as[Long].collect()
    assert(clean.forall(_ === 0L))
  }

  test("x66 registered query: mirror fixture packs each dup beside its original") {
    // the REGISTERED query augments every 31st doc with a same-ord mirror
    // dup (so the audit column carries nonzero values at oracle scale);
    // same-ord means the dup lands in its original's pack — on a distinct
    // corpus the total dup excess is exactly the mirror count
    val distinctDocs = (1L to 62L).map(i => (i, "s0", s"unique words for document number $i only"))
      .toDF("doc_id", "source", "text")
    val run = DataPrep.queries.find(_.name == "x66_pack_hygiene").get
    val dir = tmpDir("x66reg").getPath
    distinctDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = run.run(spark, dir)
      .select("n_docs", "dup_excess").as[(Long, Long)].collect()
    assert(out.map(_._1).sum === 64L) // 62 docs + mirrors of 31 and 62
    assert(out.map(_._2).sum === 2L)
  }

  test("x69 pack repair: budgets preserved per pack, duplicates eliminated, swaps paired") {
    // corpus rich in same-length docs (every doc 6 tokens) so every mover
    // finds a clean same-size partner; every 7th doc is an exact clone of
    // its predecessor — in-pack collisions whenever the clone packs beside
    // its original
    val docs = (1L to 140L).map { i =>
      val text = if (i % 7 == 0) s"clone body text number ${i - 1} x"
      else s"clone body text number $i x"
      (i, text)
    }.toDF("doc_id", "text")
      .withColumn("ord", graft.xscale.XHash.h60(col("doc_id").cast("string")))
    val keyed = docs.select(col("doc_id"),
      graft.xscale.XHash.h60(Dedup.normText(col("text"))).as("key"))
    val before = DataPrep.packAssignmentsOrd(docs).join(keyed, "doc_id")
    val after = DataPrep.packRepair(docs)
    // budget preservation: every (shard, pack) keeps its exact doc count
    // and token sum — swaps exchange equal-n_tok docs, nothing else moves
    def budgets(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("shard", "pack")
      .agg(count(lit(1)).as("n"), sum("n_tok").as("toks"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(budgets(after) === budgets(before))
    // same docs, none lost or duplicated
    assert(after.select("doc_id").as[Long].collect().sorted.toSeq === (1L to 140L))
    // repair only ever reduces within-pack duplication — and with ample
    // same-size candidates it eliminates it
    def dup(df: org.apache.spark.sql.DataFrame): Long = df
      .groupBy("shard", "pack")
      .agg((count(lit(1)) - countDistinct("key")).as("d"))
      .agg(sum("d")).as[Long].head()
    assert(dup(before) > 0L, "fixture must exercise the repair")
    assert(dup(after) === 0L)
    // every swap moves exactly two docs (the mover and its partner)
    assert(after.filter(col("moved")).count() % 2 === 0)
  }

  test("x72 PII scrub: counts and rewrites exact on a hand fixture, clean text untouched") {
    val docs = Seq(
      (1L, "reach me at jane.doe+spam@corp.example.com or bob@x.io thanks"),
      (2L, "server 192.168.001.7 and 10.0.0.255 pinged 8.8.8.8"),
      (3L, "call 555-867-5309 or 800-555-0199 x from 555-12-3456"),
      (4L, "no pii in this document at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs)
      .select("doc_id", "n_email", "n_ip", "n_phone", "text_clean")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0)._2 === 2L &&
      out(0)._5 === "reach me at <EMAIL> or <EMAIL> thanks")
    assert(out(1)._3 === 3L &&
      out(1)._5 === "server <IP> and <IP> pinged <IP>")
    // 555-12-3456 is NOT NANP-shaped (3-2-4) and must not match
    assert(out(2)._4 === 2L &&
      out(2)._5 === "call <PHONE> or <PHONE> x from 555-12-3456")
    assert(out(3) === ((4L, 0L, 0L, 0L, "no pii in this document at all")))
  }

  test("x73 split leakage: cloned eval text fully leaked, unique eval text leak-free") {
    // 10-word docs → 3 sliding 8-windows each; the test doc clones a train
    // doc (all windows leak), the val doc is unique (none leak)
    val docs = Seq(
      (1L, "train", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "train", "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      (3L, "test", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (4L, "val", "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10")
    ).toDF("doc_id", "grp", "text")
    val out = DataPrep.splitLeakage(docs, col("grp"))
      .select("split", "n_windows", "n_distinct", "n_leaked", "n_leaked_distinct", "leak_e6")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      ("test", 3L, 3L, 3L, 3L, 1000000L),
      ("val", 3L, 3L, 0L, 0L, 0L)))
  }

  test("x86 split repair: leaked docs quarantined, short docs kept, audit re-lands at 0") {
    // doc 3 clones train (quarantined); doc 4 is unique (kept); doc 5 is
    // shorter than k tokens — no windows, cannot leak, must be kept; doc 6
    // shares one window with train (partial leak still quarantines)
    val docs = Seq(
      (1L, "train", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "train", "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      (3L, "test", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (4L, "test", "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10"),
      (5L, "val", "s1 s2 s3"),
      (6L, "val", "x1 x2 w1 w2 w3 w4 w5 w6 w7 w8")
    ).toDF("doc_id", "grp", "text")
    val out = DataPrep.splitRepair(docs, col("grp"))
      .select("split", "n_docs", "n_quarantined", "n_kept", "win_before", "leak_before",
        "leak_e6_before", "win_after", "leak_after", "leak_e6_after")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    // test: 2 docs x 3 windows, doc 3 fully leaked → 3/6 before, doc 4 kept
    // val: doc 5 (0 windows) kept; doc 6 has exactly one leaked window
    // (w1..w8) of its 3 → quarantined
    assert(out.toSeq === Seq(
      ("test", 2L, 1L, 1L, 6L, 3L, 500000L, 3L, 0L, 0L),
      ("val", 2L, 1L, 1L, 3L, 1L, 333333L, 0L, 0L, 0L)))
  }

  test("x89 decontam agreement: exact implies ngram implies window on a graded fixture") {
    // doc 3: verbatim clone of train -> all three methods flag it.
    // doc 4: shares a 5-word shingle (and hence no 8-token window) ->
    //        ngram only. doc 5: clean -> no method.
    val docs = Seq(
      (1L, "train", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (3L, "test", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (4L, "test", "w1 w2 w3 w4 w5 a6 a7 a8 a9 a10"),
      (5L, "val", "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10")
    ).toDF("doc_id", "grp", "text")
    val out = DataPrep.decontamAgreement(docs, col("grp"))
      .select("m_a", "m_b", "n_a", "n_b", "n_both", "n_union", "jac_e6")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // exact flags {3}; ngram flags {3,4}; window flags {3}
    assert(out.toSeq === Seq(
      ("exact", "ngram", 1L, 2L, 1L, 2L, 500000L),
      ("exact", "window", 1L, 1L, 1L, 1L, 1000000L),
      ("ngram", "window", 2L, 1L, 1L, 2L, 500000L)))
  }

  test("x90 filter ablation: each stage flags exactly its own doc, marginals exact") {
    // doc 1 passes every Gopher rule and is first -> clean. doc 2 clones
    // doc 1 -> window_dup only. doc 3 is too short -> quality only (and
    // carries no 8-token window at all). doc 4 passes quality but shares
    // an 8-token run with the val doc 5 -> eval_leak only.
    val good = "the cat sat of the mat and the dog ran over the green field today"
    val leaky = "big river runs past our old stone bridge and the water of it shines today"
    val docs = Seq(
      (1L, "train", good),
      (2L, "train", good),
      (3L, "train", "short one"),
      (4L, "train", leaky),
      (5L, "val", "completely different prefix big river runs past our old stone bridge extra")
    ).toDF("doc_id", "grp", "text")
    val out = DataPrep.filterAblation(docs, col("grp"))
      .select("method", "n_flagged", "n_only", "nw_flagged", "n_docs", "flag_e6")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      ("any", 3L, 3L, 32L, 4L, 750000L),
      ("eval_leak", 1L, 1L, 15L, 4L, 250000L),
      ("quality", 1L, 1L, 2L, 4L, 250000L),
      ("window_dup", 1L, 1L, 15L, 4L, 250000L)))
  }

  test("x90 filter ablation: a doc dup'd from train AND leaked to eval carries both flags") {
    // Pins the single-aggregate window recombination (one per-hash
    // aggregate carries first_doc and has_eval TOGETHER): doc 6 clones
    // doc 4's windows, which also appear in val doc 5 — so the same hash
    // group must yield fd=1 (first_doc 4 < 6) and fl=1 for doc 6, and
    // doc 6 must count in NEITHER method's n_only.
    val good = "the cat sat of the mat and the dog ran over the green field today"
    val leaky = "big river runs past our old stone bridge and the water of it shines today"
    val docs = Seq(
      (1L, "train", good),
      (4L, "train", leaky),
      (6L, "train", leaky),
      (5L, "val", "completely different prefix big river runs past our old stone bridge extra")
    ).toDF("doc_id", "grp", "text")
    val out = DataPrep.filterAblation(docs, col("grp"))
      .select("method", "n_flagged", "n_only", "nw_flagged", "n_docs", "flag_e6")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // window_dup flags {6}; eval_leak flags {4, 6}; quality flags none;
    // doc 6 is multi-flagged so n_only counts are eval_leak-only doc 4
    assert(out.toSeq === Seq(
      ("any", 2L, 1L, 30L, 3L, 666666L),
      ("eval_leak", 2L, 1L, 30L, 3L, 666666L),
      ("quality", 0L, 0L, 0L, 3L, 0L),
      ("window_dup", 1L, 0L, 15L, 3L, 333333L)))
  }

  test("x70 temperature mix: draw recomputable, histogram flattened, small groups capped") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val out = DataPrep.temperatureMix(docs01)
      .select("lang", "doc_id", "n_docs", "w_e3", "p_e6", "kept")
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
    // every value recomputable from the group counts alone: w = e3-sqrt,
    // p = capped ratio, kept = the deterministic hash draw
    val n = out.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val w = n.view.mapValues(c => math.floor(math.sqrt(c.toDouble * 1e6)).toLong).toMap
    val wsum = w.values.sum
    out.foreach { case (lang, id, nd, we3, p, kept) =>
      assert(nd === n(lang) && we3 === w(lang))
      assert(p === math.min(1000000L, DataPrep.MixTarget * we3 * 1000000L / (wsum * nd)))
      assert(kept === (XHash.h60(id.toString) % 1000000L < p))
    }
    // temperature flattening: the dominant language keeps a strictly
    // smaller FRACTION than the smallest one (that's the whole point)
    val frac = out.groupBy(_._1).view
      .mapValues(rs => rs.count(_._6).toDouble / rs.length).toMap
    val big = n.maxBy(_._2)._1
    val small = n.minBy(_._2)._1
    assert(frac(big) < frac(small),
      s"dominant $big keeps ${frac(big)}, smallest $small keeps ${frac(small)}")
    // a group small enough saturates the cap and keeps everything
    val tiny = (1L to 200L).map(i => (i, "en", s"doc $i")) ++
      (201L to 205L).map(i => (i, "rare", s"doc $i"))
    val capped = DataPrep.temperatureMix(tiny.toDF("doc_id", "lang", "text"))
      .filter(col("lang") === "rare")
      .select("p_e6", "kept").as[(Long, Boolean)].collect()
    assert(capped.length === 5 && capped.forall { case (p, k) => p === 1000000L && k })
  }

  test("x61 resample: draw reproducible from scores, monotone in target, keeps near target") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val isT = col("lang") === "en"
    val out = DataPrep.dsirResample(docs01, isT)
      .select("doc_id", "score_e6", "p_e6", "kept")
      .as[(Long, Long, Long, Boolean)].collect()
    // the whole draw is recomputable from the scores alone: p from the
    // capped ratio, kept from the deterministic hash — nothing random
    val sTot = out.map(_._2).sum
    val t = DataPrep.DsirTopK.toLong
    out.foreach { case (id, score, p, kept) =>
      assert(p === math.min(1000000L, (score * 1000000L) / (sTot / t + 1L)))
      assert(kept === (XHash.h60(id.toString) % 1000000L < p))
    }
    // expected keeps = sum(p)/1e6 targets DsirTopK; the realized count is a
    // deterministic Bernoulli realization — generous band, tight enough to
    // catch a broken probability scale
    val expected = out.map(_._3).sum / 1e6
    val kept = out.count(_._4)
    assert(expected > t / 2.0 && expected < 2.0 * t, s"E[keeps] = $expected")
    assert(kept > expected / 2 && kept < expected * 2, s"kept $kept vs E $expected")
    // raising the target only ever ADDS docs (p is monotone in target)
    val bigger = DataPrep.dsirResample(docs01, isT, target = 4 * t)
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    val base = out.filter(_._4).map(_._1).toSet
    assert(base.subsetOf(bigger) && bigger.size > base.size)
  }

  test("x51/x33 sampled thresholds survive an empty hash-sample (tiny corpus)") {
    // sampleFraction at the 1/1000 floor over a handful of docs: the
    // hash-sample is (almost surely) empty, approx_percentile returns null,
    // and both operators must fall back to the exact percentile instead of
    // NPE / MatchError
    val tiny = Seq(
      (1L, "t", "alpha beta gamma delta epsilon zeta"),
      (2L, "r", "alpha beta gamma delta epsilon eta"),
      (3L, "r", "zig zag zog zub quux corge"),
      (4L, "r", "gamma delta alpha beta zeta eta"),
      (5L, "r", "grault garply waldo fred plugh xyzzy"))
      .toDF("doc_id", "source", "text")
    val sel = DataPrep.dsirSelectThreshold(
      tiny, col("source") === "t", keepFrac = 0.5, sampleFraction = 0.0001)
      .select("score_e6", "selected").as[(Long, Boolean)].collect()
    assert(sel.length === 4) // raw docs only
    val (kept, dropped) = sel.partition(_._2)
    assert(kept.nonEmpty) // the exact-percentile fallback produced a usable threshold
    if (dropped.nonEmpty) assert(kept.map(_._1).min >= dropped.map(_._1).max)
    val buckets = TextAnalysis.lmScoreSampled(
      tiny.select("doc_id", "source", "text"), sampleFraction = 0.0001)
      .select("bucket").as[Long].collect()
    assert(buckets.length === 5 && buckets.forall(b => b >= 1L && b <= 3L))
  }
}
