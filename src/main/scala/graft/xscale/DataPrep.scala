package graft.xscale

import org.apache.spark.sql.{Column, DataFrame, graftnative}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.query.Q
import graft.query.Registry.table
import XHash.{h60, h60Sql, P}

/** Training-data PREPARATION operators — the steps between "filtered,
  * deduped corpus" and "tensors on a trainer": sequence packing, stratified
  * sampling, split decontamination at n-gram granularity, embedding
  * quantization, asymmetric containment dedup, and mixture reweighting.
  *
  * Scale posture (100 TB): nothing here materializes per-pair or per-token
  * state beyond keyed joins and windows that are PARTITIONED (by shard,
  * language, or label) — no global sort, no driver collect. Each query's doc
  * states where its 100 TB bottleneck would be and how the shape avoids it.
  */
object DataPrep {

  /** Tokens-per-context budget for x21 sequence packing. */
  val PackBudget = 256

  /** Output shards for x21 — stands in for "one pack stream per writer
    * task"; at 100 TB this is the number of output files, thousands.
    */
  val PackShards = 8

  /** Window length (tokens) for x34 exact-substring coverage. Lee et al.
    * use 50 BPE tokens; these docs are ~50 words long, so 8 keeps the
    * signal meaningful at test scale while the algebra is length-blind.
    */
  val SubstrK = 8

  /** x36 chunking: window / stride in tokens (overlap = W - S). */
  val ChunkW = 32
  val ChunkS = 24

  /** x36 core: explode each doc into overlapping [start, start+n-1] token
    * windows. Columns (doc_id, chunk_id, start_tok, n_tok, chunk_text).
    */
  def chunkDocs(docs: DataFrame, w: Int = ChunkW, s: Int = ChunkS): DataFrame = {
    require(s > 0 && s <= w, "stride must be in (0, window]")
    docs
      .select(col("doc_id"), XText.words(col("text")).as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
      .withColumn(
        "nc",
        lit(1L) + when(col("nw") > w, expr(s"(nw - $w + ${s - 1}) div $s"))
          .otherwise(lit(0L)))
      .select(
        col("doc_id"),
        col("ws"),
        col("nw"),
        explode(expr(s"sequence(0L, nc - 1)")).as("chunk_id"))
      .withColumn("start_tok", lit(1L) + col("chunk_id") * s)
      .withColumn("n_tok", least(lit(w.toLong), col("nw") - col("start_tok") + 1))
      .select(
        col("doc_id"),
        col("chunk_id"),
        col("start_tok"),
        col("n_tok"),
        array_join(
          slice(col("ws"), col("start_tok").cast("int"), col("n_tok").cast("int")), " ")
          .as("chunk_text"))
  }

  /** x125 "mixed" threshold: a doc whose chunks disagree on ≥ 30% of
    * simhash bits on average (random-text pairs sit near 50%) reads as
    * internally incoherent.
    */
  val DivergeE6 = 300000L

  /** x125 core: INTRA-DOC CHUNK DIVERGENCE — per source, how topically
    * coherent documents are INTERNALLY, measured as the pairwise simhash
    * hamming between a doc's own x36 chunks. A clean article's chunks
    * share vocabulary (low hamming); a concatenation artifact (crawler
    * merging unrelated pages), a topic-mixed scrape, or OCR garbage
    * produces chunks as far apart as random text (~50% of bits). This is
    * the signal per-doc bag-of-words metrics CANNOT see: x31/x109 score
    * the doc as one bag, and a doc made of two clean-but-unrelated halves
    * looks fine to both — only comparing the halves exposes the seam. Also
    * the RAG-index QA gate: x91 embeds chunks assuming chunk≈doc topic;
    * high divergence breaks that assumption and poisons x92's
    * sibling-chunk eval. Per source: multi-chunk docs, mixed docs (mean
    * pairwise disagreement ≥ [[DivergeE6]] ppm of bits), their share, and
    * the corpus-level mean disagreement — all exact integers. Columns
    * (source, n_docs_mc, n_mixed, mixed_e6, n_pairs, mean_div_e6).
    *
    * Scale posture (100 TB): chunking + per-chunk simhash are one
    * scan-local pass (native codegen, no shuffle); the pair join is keyed
    * on doc_id so every partition is one doc's chunk list — C(nc,2) pairs
    * per doc, bounded by the chunk cap (len/stride; cap nc or sample
    * chunk pairs for book-length docs, the audit only needs the mean);
    * the rollup is |sources| rows, map-side combinable. No global window.
    */
  def chunkDivergence(docs: DataFrame): DataFrame = {
    // 16-byte (doc_id, chunk_id, simhash) rows, pinned so the pair
    // self-join reads the fingerprints instead of re-running chunking +
    // simhash on both legs (the x112 one-scan pin; the pinned frame is
    // far smaller than the text it came from).
    val ch = chunkDocs(docs).select(
        col("doc_id"),
        col("chunk_id"),
        graftnative.api.simhash60(graftnative.api.tokenHash60(col("chunk_text"))).as("sh"))
      .localCheckpoint()
    val a = ch.select(col("doc_id"), col("chunk_id").as("ca"), col("sh").as("sa"))
    val b = ch.select(col("doc_id"), col("chunk_id").as("cb"), col("sh").as("sb"))
    val perDoc = a.join(b, Seq("doc_id"))
      .filter(col("ca") < col("cb"))
      .select(col("doc_id"), expr("CAST(bit_count(sa ^ sb) AS BIGINT)").as("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum("h").as("sum_h"))
      .withColumn("div_e6", expr("(1000000 * sum_h) div (60 * n_pairs)"))
    perDoc
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs_mc"),
        sum(when(col("div_e6") >= DivergeE6, 1L).otherwise(0L)).as("n_mixed"),
        sum("n_pairs").as("n_pairs"),
        sum("sum_h").as("sum_h"))
      .withColumn("mixed_e6", expr("(1000000 * n_mixed) div n_docs_mc"))
      .withColumn("mean_div_e6", expr("(1000000 * sum_h) div (60 * n_pairs)"))
      .select("source", "n_docs_mc", "n_mixed", "mixed_e6", "n_pairs", "mean_div_e6")
  }

  /** x38 core: the per-source audit card — docs, tokens, exact-dup excess,
    * vocabulary, language count, token-length envelope.
    */
  def datasheet(docs: DataFrame): DataFrame = {
    val w = docs.select(
      col("doc_id"), col("source"), col("lang"),
      XText.words(col("text")).as("ws"),
      Dedup.normText(col("text")).as("norm"))
    val d = w.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("ws")).cast("long")).as("tokens"),
      countDistinct("norm").as("uniq_norm"),
      countDistinct("lang").as("langs"),
      min(size(col("ws")).cast("long")).as("min_tok"),
      max(size(col("ws")).cast("long")).as("max_tok"))
    val v = w.select(col("source"), explode(col("ws")).as("t"))
      .groupBy("source").agg(countDistinct("t").as("vocab"))
    d.join(v, "source")
      .select(
        col("source"), col("n_docs"), col("tokens"),
        (col("n_docs") - col("uniq_norm")).as("dup_excess"),
        col("vocab"), col("langs"), col("min_tok"), col("max_tok"))
  }

  /** x40: the datasheet with HyperLogLog++ approximate distincts — the
    * documented 100 TB swap for x38's exact count-distincts (vocab and
    * norm-dedup are the two corpus-scale distincts; HLL state is a few KB
    * per group and merges map-side instead of shuffling every distinct
    * value). No DuckDB oracle: DuckDB's approx_count_distinct uses a
    * different HLL implementation, so only the EXACT twin (x38) is
    * hash-comparable; the spec bounds approx-vs-exact error instead.
    */
  def datasheetApprox(docs: DataFrame, rsd: Double = 0.05): DataFrame = {
    val w = docs.select(
      col("doc_id"), col("source"), col("lang"),
      XText.words(col("text")).as("ws"),
      Dedup.normText(col("text")).as("norm"))
    val d = w.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("ws")).cast("long")).as("tokens"),
      approx_count_distinct("norm", rsd).as("uniq_norm_approx"),
      countDistinct("lang").as("langs"),
      min(size(col("ws")).cast("long")).as("min_tok"),
      max(size(col("ws")).cast("long")).as("max_tok"))
    val v = w.select(col("source"), explode(col("ws")).as("t"))
      .groupBy("source").agg(approx_count_distinct("t", rsd).as("vocab_approx"))
    d.join(v, "source")
      .select(
        col("source"), col("n_docs"), col("tokens"),
        greatest(col("n_docs") - col("uniq_norm_approx"), lit(0L)).as("dup_excess_approx"),
        col("vocab_approx"), col("langs"), col("min_tok"), col("max_tok"))
  }

  /** x40 driver-checkable form: per source, the EXACT distincts next to
    * booleans asserting the HLL estimates land inside the 3×rsd envelope
    * (absolute floor of 3 for tiny counts — the same bound
    * [[graft.xscale]] DataPrepSpec pins). The oracle recomputes the exact
    * side and expects the booleans TRUE, so a drifting HLL breaks the
    * hash compare even though the sketch itself is engine-specific.
    */
  def datasheetApproxBounds(docs: DataFrame, rsd: Double = 0.05): DataFrame = {
    val exact = datasheet(docs).select(
      col("source"), col("n_docs"), col("tokens"),
      (col("n_docs") - col("dup_excess")).as("uniq_norm"), col("vocab"))
    val approx = datasheetApprox(docs, rsd).select(
      col("source"),
      (col("n_docs") - col("dup_excess_approx")).as("uniq_norm_a"),
      col("vocab_approx"))
    def inBounds(a: Column, e: Column): Column =
      abs(a - e) <= greatest(lit(3.0), lit(3 * rsd) * e)
    exact.join(approx, "source")
      .select(
        col("source"), col("n_docs"), col("tokens"), col("uniq_norm"), col("vocab"),
        inBounds(col("uniq_norm_a"), col("uniq_norm")).as("norm_ok"),
        inBounds(col("vocab_approx"), col("vocab")).as("vocab_ok"))
  }

  /** x49 core: the shard-export MANIFEST a trainer consumes — one row per
    * (shard, pack) with doc/token counts and an order-INDEPENDENT content
    * checksum (bit_xor of the docs' 60-bit text hashes: XOR commutes, so
    * the checksum is partitioning- and arrival-order-proof, overflow-free,
    * and any single changed/missing/extra doc flips it). Verifying a
    * delivered shard needs only this manifest plus one scan of the shard.
    * Columns (shard, pack, n_docs, sum_tokens, checksum).
    */
  def shardManifest(
      docs: DataFrame,
      budget: Int = PackBudget,
      shards: Int = PackShards): DataFrame =
    packAssignments(docs, budget, shards)
      .join(docs.select(col("doc_id"), XHash.h60(col("text")).as("th")), "doc_id")
      .groupBy("shard", "pack")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        expr("bit_xor(th)").as("checksum"))

  /** x48 core: incremental datasheet maintenance via MERGEABLE sketches —
    * the 100 TB pattern where each corpus version keeps a per-source HLL
    * sketch of its normalized-text keys, and the datasheet of the UNION is
    * answered by merging sketches instead of rescanning history. Emits the
    * exact union distincts beside a boolean asserting the merged-sketch
    * estimate lands within `envelope` of exact (default 5% ≈ 3× the rsd of
    * Spark's default lgK=12 DataSketches HLL), the x40-bounds pattern that
    * keeps an engine-specific sketch oracle-checkable. Columns
    * (source, n_a, n_b, uniq_union, union_ok).
    */
  def sketchUnionDatasheet(
      a: DataFrame,
      b: DataFrame,
      envelope: Double = 0.05): DataFrame = {
    def keyed(df: DataFrame): DataFrame =
      df.select(col("source"), XHash.h60(Dedup.normText(col("text"))).as("k"))
    val ka = keyed(a)
    val kb = keyed(b)
    // one aggregation per version — at scale these sketch tables would be
    // PERSISTED per snapshot (KB per source) and only ever merged
    val sa = ka.groupBy("source").agg(count(lit(1)).as("n_a"), expr("hll_sketch_agg(k)").as("sk_a"))
    val sb = kb.groupBy("source").agg(count(lit(1)).as("n_b"), expr("hll_sketch_agg(k)").as("sk_b"))
    val exact = ka.unionByName(kb).distinct()
      .groupBy("source").agg(count(lit(1)).as("uniq_union"))
    sa.join(sb, "source").join(exact, "source")
      .withColumn(
        "est",
        expr("CAST(hll_sketch_estimate(hll_union(sk_a, sk_b)) AS BIGINT)"))
      .select(
        col("source"), col("n_a"), col("n_b"), col("uniq_union"),
        (abs(col("est") - col("uniq_union")) <=
          greatest(lit(3.0), lit(envelope) * col("uniq_union"))).as("union_ok"))
  }

  /** x37 fixture: a deterministic "next crawl" of the corpus — every 17th
    * doc removed, every 13th edited, every 23rd re-added under a shifted
    * id. Mirrors the SQL twin exactly.
    */
  def corpusV2(a: DataFrame): DataFrame = {
    val edited = a.filter(col("doc_id") % 17 =!= 0)
      .withColumn(
        "text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    val added = a.filter(col("doc_id") % 23 === 0)
      .select(
        (col("doc_id") + 1000000L).as("doc_id"),
        col("source"),
        concat(col("text"), lit(" new")).as("text"))
    edited.unionByName(added)
  }

  /** x37 core: snapshot diff by (doc_id, content hash). One full outer
    * join on doc_id; columns (doc_id, source, status, tok_a, tok_b) with
    * status ∈ added | removed | changed | unchanged.
    */
  def corpusDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val aa = a.select(col("doc_id"), col("source").as("src_a"), col("text").as("text_a"))
    val bb = b.select(col("doc_id"), col("source").as("src_b"), col("text").as("text_b"))
    aa.join(bb, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        coalesce(col("src_a"), col("src_b")).as("source"),
        when(col("text_a").isNull, "added")
          .when(col("text_b").isNull, "removed")
          .when(md5(col("text_a")) =!= md5(col("text_b")), "changed")
          .otherwise("unchanged").as("status"),
        when(col("text_a").isNull, 0L)
          .otherwise(size(XText.words(col("text_a"))).cast("long")).as("tok_a"),
        when(col("text_b").isNull, 0L)
          .otherwise(size(XText.words(col("text_b"))).cast("long")).as("tok_b"))
  }

  /** x34 core: per-doc token coverage by k-token windows occurring in at
    * least 2 distinct docs. Columns
    * (doc_id, nw, n_win, n_shared, covered, cov_e6).
    */
  def substringCoverage(docs: DataFrame, k: Int = SubstrK): DataFrame = {
    val w = docs.select(col("doc_id"), XText.words(col("text")).as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
    // per-POSITION window hashes in one native codegen pass (the
    // distinct-set shingleHash60 loses positions, which the interval union
    // needs; the declarative transform/struct/md5 chain is CodegenFallback
    // and benched 2x slower). WindowHash60 yields [] below k words, so
    // short docs drop out exactly like the filter did.
    val occ = docs
      .select(col("doc_id"), posexplode(graftnative.api.windowHash60(col("text"), k)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("h"))
    val shared = occ.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val byP = Window.partitionBy("doc_id").orderBy("p")
    val cov = occ.join(shared, "h")
      .withColumn("pp", lag("p", 1).over(byP))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shared"),
        sum(
          when(col("pp").isNull, lit(k.toLong))
            .otherwise(least(lit(k.toLong), col("p") - col("pp")))).as("covered"))
    w.select(col("doc_id"), col("nw"))
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("nw"),
        greatest(col("nw") - (k - 1), lit(0L)).as("n_win"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        expr("(1000000 * coalesce(covered, 0L)) div nw").as("cov_e6"))
  }

  /** x43 core: duplicated-span REMOVAL — the enforcement half of x34's
    * diagnostic (Lee et al. 2022 remove "all but one" occurrence of every
    * duplicated substring). Deterministic ownership rule: each shared
    * k-token window is OWNED by the smallest doc_id containing it; every
    * non-owning occurrence marks its k positions for removal, and a doc's
    * cleaned text is its kept tokens re-joined in order. Exactly one copy
    * of every duplicated span survives (in its owner), and the owner's
    * copy survives whole unless a DIFFERENT window it doesn't own covers
    * those positions. Columns (doc_id, nw, n_removed, text_clean).
    */
  def removeSharedSpans(docs: DataFrame, k: Int = SubstrK): DataFrame = {
    val w = docs.select(col("doc_id"), XText.words(col("text")).as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
    val occ = docs
      .select(col("doc_id"), posexplode(graftnative.api.windowHash60(col("text"), k)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("h"))
    // one shuffle on the 8-byte window hash decides shared-ness AND
    // ownership together; the owner table is windows-with-duplicates only,
    // far smaller than the occurrence list
    val own = occ.groupBy("h")
      .agg(min("doc_id").as("owner"), countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("h", "owner")
    val rem = occ.join(own, "h").filter(col("doc_id") =!= col("owner"))
    // positions explode is k rows per REMOVED occurrence — proportional to
    // the duplicated volume, not the corpus; distinct collapses overlaps
    val pos = rem
      .select(col("doc_id"), explode(expr(s"sequence(p, p + ${k - 1})")).as("pos"))
      .distinct()
    cutPositions(w, pos)
  }

  /** Shared reassembly tail (x43/x64): cut the 1-based token positions in
    * `pos` (doc_id, pos — already distinct) out of every doc in `w`
    * (doc_id, ws, nw) and rebuild the text from surviving tokens in order.
    * Columns (doc_id, nw, n_removed, text_clean).
    */
  private def cutPositions(w: DataFrame, pos: DataFrame): DataFrame = {
    val tok = w
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("i0", "tk")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("pos"), col("tk"))
    val kept = tok.join(pos, Seq("doc_id", "pos"), "left_anti")
    val agg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(
        " ",
        transform(
          array_sort(collect_list(struct(col("pos"), col("tk")))),
          t => t.getField("tk"))).as("text_clean"))
    w.select("doc_id", "nw").join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("nw"),
        (col("nw") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** x64 core: span-level DECONTAMINATION — remove from `docs` EVERY
    * occurrence of every k-token window that appears anywhere in `bench`
    * (the benchmark / test corpus). The enforcement composition of x23
    * (n-gram contamination detection) and x43's cut machinery: unlike x43's
    * keep-one-owner rule, contamination removal keeps ZERO copies — the
    * benchmark must not leak into training at all. Columns
    * (doc_id, nw, n_removed, text_clean).
    *
    * Scale posture (100 TB): benchmark suites are tiny next to the corpus,
    * so the contaminated-window set is a broadcast 8-byte-hash table; the
    * corpus side is one windowHash60 pass + the broadcast semi-join, and
    * the position explode is bounded by the CONTAMINATED volume only.
    */
  def removeContaminatedSpans(docs: DataFrame, bench: DataFrame, k: Int = SubstrK): DataFrame = {
    val w = docs.select(col("doc_id"), XText.words(col("text")).as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
    val benchH = bench
      .select(explode(graftnative.api.windowHash60(col("text"), k)).as("h"))
      .distinct()
    val occ = docs
      .select(col("doc_id"), posexplode(graftnative.api.windowHash60(col("text"), k)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("h"))
    val pos = occ.join(broadcast(benchH), "h")
      .select(col("doc_id"), explode(expr(s"sequence(p, p + ${k - 1})")).as("pos"))
      .distinct()
    cutPositions(w, pos)
  }

  private val ordSql = h60Sql("CAST(doc_id AS VARCHAR)")
  private def ordCol: Column = XHash.h60(col("doc_id").cast("string"))

  /** x19's split bucketing, shared by the contamination checks. */
  def splitCol: Column = {
    val bucket = ordCol % 100
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
  }
  private def splitSql: String =
    s"CASE WHEN $ordSql % 100 < 90 THEN 'train' WHEN $ordSql % 100 < 95 THEN 'val' ELSE 'test' END"

  /** Deterministic 90/5/5 split tag (x19 semantics) as a column. */
  def splitAssign(docs: DataFrame): DataFrame = docs.withColumn("split", splitCol)

  /** x133 core: NEAR-DUP SPLIT LEAKAGE — the fuzzy leg of the
    * decontamination family: an eval doc with a TRAIN near-dup (simhash
    * hamming ≤ 8, x04's rule) under x19's split. The exact legs (x73
    * window leakage, x75 Bloom, x64 spans) catch verbatim overlap;
    * paraphrased or lightly-edited re-posts evade all of them and STILL
    * inflate eval — this is the standard "fuzzy decontam" pass (e.g.
    * 13-gram + edit-distance hybrids) expressed through the simhash
    * candidate machinery the dedup already runs. Per eval split (val,
    * test): docs, train↔split candidate pairs, leaky docs (≥ 1 train
    * near-dup) and leak_e6 — zero-completed, so a clean corpus reports
    * its 0s. Remediation is x86's quarantine, same as the exact legs.
    * Columns (split, n_docs, n_pairs, n_leaky, leak_e6).
    *
    * Scale posture (100 TB): rides x04's pigeonhole block join (no new
    * candidate machinery — the same pairs the dedup computes); split
    * tags are a per-row hash expression attached to the 16-byte pair
    * stream by two keyed joins; rollup is 2 rows. Run it on the SAME
    * pass that near-dup-dedups the corpus — the pairs are free.
    */
  def neardupLeakage(docs: DataFrame): DataFrame = {
    val sp = splitAssign(docs.select(col("doc_id"))).localCheckpoint()
    val pairs = Dedup.simhashPairs(docs).select("doc_id_a", "doc_id_b")
      .join(sp.select(col("doc_id").as("doc_id_a"), col("split").as("sa")), "doc_id_a")
      .join(sp.select(col("doc_id").as("doc_id_b"), col("split").as("sb")), "doc_id_b")
    val cross = pairs.filter(
      (col("sa") === "train" && col("sb") =!= "train") ||
        (col("sb") === "train" && col("sa") =!= "train"))
      .select(
        when(col("sa") === "train", col("doc_id_b")).otherwise(col("doc_id_a")).as("doc_id"),
        when(col("sa") === "train", col("sb")).otherwise(col("sa")).as("split"))
      .localCheckpoint() // feeds both the pair count and the distinct-doc count
    val perSplitPairs = cross.groupBy("split").agg(count(lit(1)).as("n_pairs"))
    val leaky = cross.distinct().groupBy("split").agg(count(lit(1)).as("n_leaky"))
    sp.filter(col("split") =!= "train")
      .groupBy("split").agg(count(lit(1)).as("n_docs"))
      .join(perSplitPairs, Seq("split"), "left")
      .join(leaky, Seq("split"), "left")
      .na.fill(0L, Seq("n_pairs", "n_leaky"))
      .withColumn("leak_e6", expr("(1000000 * n_leaky) div n_docs"))
      .select("split", "n_docs", "n_pairs", "n_leaky", "leak_e6")
  }

  /** x134 core: CORPUS SHUFFLE AUDIT — is the shipped layout actually
    * shuffled? Per x123 hash shard, walk docs in on-disk order (doc_id
    * within shard) and count ADJACENT same-source runs; compare the
    * measured same-source adjacency rate against the mixture's own
    * baseline Σp² (what a perfect shuffle would show — x132's collision
    * arithmetic applied to the source marginal). Training loaders stream
    * shards sequentially, so source-clumped writes feed the model
    * correlated batches — gradient noise drops, curriculum accidents
    * happen — and no per-doc metric can see it: ORDER is the signal.
    * ratio_e6 ≈ 1e6 = well shuffled; ≫ 1e6 = clumped (re-shuffle before
    * shipping; x82's interleaving is the fix). Columns (shard, n_docs,
    * n_adj, same_adj, same_e6, base_e6, ratio_e6), exact integers.
    *
    * Scale posture (100 TB): the lag window partitions by SHARD and
    * orders by the on-disk key — the no-global-sort claim holds only when
    * `shardN` TRACKS THE SHIPPED FILE COUNT (thousands at 100 TB), so the
    * shard count is a parameter, not a constant: pass the real layout's
    * fan-out and each window partition is one file's sequential scan,
    * embarrassingly parallel. At the fixture's default ([[ShardN]] = 16,
    * pinned for the oracle twin's literal) a partition is 1/16 of the
    * corpus — fine at audit SF, wrong at scale, hence the knob. The
    * baseline is a |sources|-row aggregate broadcast back. One scan, 2
    * small rollups.
    */
  def shuffleAudit(docs: DataFrame, shardN: Long = ShardN): DataFrame = {
    val d = docs.select(
      col("doc_id"),
      col("source"),
      (h60(col("doc_id").cast("string")) % shardN).as("shard"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
    val adj = d
      .withColumn("prev", lag("source", 1).over(w))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("prev").isNotNull, 1L).otherwise(0L)).as("n_adj"),
        sum(when(col("prev") === col("source"), 1L).otherwise(0L)).as("same_adj"))
      .withColumn("same_e6",
        expr("CASE WHEN n_adj = 0 THEN 0 ELSE (1000000 * same_adj) div n_adj END"))
    val base = d.groupBy("source").agg(count(lit(1)).as("c"))
      .agg(
        sum(expr("cast(c as decimal(38,0)) * c")).as("sum_c2"),
        sum("c").as("n"))
      .select(expr("(cast(1000000 as decimal(38,0)) * sum_c2) " +
        "div (cast(n as decimal(38,0)) * n)").as("base_e6"))
    adj.crossJoin(broadcast(base))
      .withColumn("ratio_e6",
        expr("CASE WHEN base_e6 = 0 THEN 0 ELSE (1000000 * same_e6) div base_e6 END"))
      .select("shard", "n_docs", "n_adj", "same_adj", "same_e6", "base_e6", "ratio_e6")
  }

  /** x102 vocab rule: a word enters the train vocabulary when it appears
    * in at least this many distinct train docs (df-thresholding, the
    * standard guard against hapax noise).
    */
  val OovMinDf = 2L

  /** x102 core: OOV-RATE audit — vocabulary coverage of the held-out
    * splits. The vocabulary is the words seen in ≥ [[OovMinDf]] distinct
    * x19-train docs; every val/test token is then checked against it and
    * the out-of-vocabulary rate is reported per (split, source). This is
    * the pre-tokenizer-freeze coverage check (an OOV spike on one source
    * means the vocab was trained past it) and the eval-time drift alarm.
    * Columns (split, source, n_tok, n_oov, oov_e6).
    *
    * Scale posture (100 TB): one exploded-token scan; the vocab df is a
    * map-side-combinable (term, doc)-distinct aggregate; the membership
    * check is a dictionary join keyed on the term (df ≥ 2 already prunes
    * the hapax half of a Zipfian vocab). The join key stays the string so
    * the oracle comparison is collision-free; at real scale hash the term
    * to a 60-bit key first — same plan, 8-byte shuffle keys.
    */
  /** x108 n-gram order for the coverage audit (3-grams: small enough to
    * measure distribution overlap, not verbatim leakage — that is x73's
    * k=8 job).
    */
  val CovK = 3

  /** x108 core: N-GRAM COVERAGE of the held-out splits by train — for
    * each (split, source), the fraction of the split's DISTINCT word
    * [[CovK]]-grams that also appear anywhere in the train split
    * (cov_e6), plus the distinct-gram counts. This is the corpus-level
    * generalization-shift proxy: LOW coverage on a source means its
    * held-out text is phrased unlike anything trained on (domain gap —
    * eval loss will look worse than the model is); HIGH coverage at k=8+
    * would be leakage, which is x73's per-doc audit — at k=3 it measures
    * distributional familiarity, not copying. Columns (split, source,
    * n_grams, n_covered, cov_e6).
    *
    * Scale posture (100 TB): one native windowHash60 scan; train grams
    * collapse to a distinct 8-byte-hash set (map-side combinable); the
    * membership check is a left join keyed on the hash over the held-out
    * side's distinct (split, source, gram) triples. No window, no pairs;
    * the join's build side is the distinct-gram set — the same class as
    * x75's Bloom decontam, which is the drop-in when exact membership
    * stops being worth the shuffle.
    */
  def ngramCoverage(docs: DataFrame, k: Int = CovK): DataFrame = {
    // widenNarrowScan audited and rejected by measurement (r16 VERDICT
    // ask #6): exec 0.63 → 1.38 s at sf0.1 — the k=3 windowHash fan-out
    // is lighter than the widened shuffles' fixed per-task cost (numbers
    // in OPTIMIZATION_r17.md; contrast bm25Retrieval, where the fan-out
    // dominates and the widen measured as a win)
    val tagged = splitAssign(docs)
    val grams = tagged.select(
      col("split"), col("source"),
      explode(graftnative.api.windowHash60(col("text"), k)).as("h"))
    val train = grams.filter(col("split") === "train")
      .select("h").distinct().withColumn("_t", lit(1L))
    grams.filter(col("split") =!= "train")
      .select("split", "source", "h").distinct()
      .join(train, Seq("h"), "left")
      .groupBy("split", "source")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("_t"), lit(0L))).as("n_covered"))
      .withColumn("cov_e6", expr("(1000000 * n_covered) div n_grams"))
  }

  /** x107 core: PHASE-PURE PACK BUILD — the x101 curriculum composed with
    * the x21 packer: docs are phase-assigned (easy-first quality order),
    * then packed WITHIN each phase in x21's hash order and shard layout,
    * so a curriculum trainer can stream phase 1's packs before phase 2
    * ever loads. Per phase: docs, token mass, pack count and fill ratio
    * (e6, of pack budget · packs) — the utilization number that says
    * whether phase boundaries fragment packs. Columns
    * (phase, n_docs, sum_tok, n_packs, fill_e6).
    *
    * ORACLE PIN: phase = global NTILE (x101's pin); the 100 TB path is
    * [[phasePackingByThresholds]] (sampled-quantile phases — ScaleSmoke
    * `x107_phase_packing_auto`). The packing cumsum itself partitions by
    * (phase, shard) — parallel across shards exactly like x21, one extra
    * grouping key.
    */
  def phasePacking(
      docs: DataFrame,
      phases: Int = TextAnalysis.CurriculumPhases,
      budget: Int = PackBudget,
      shards: Int = PackShards): DataFrame = {
    val qd = TextAnalysis.qualityPerDoc(docs).select("doc_id", "n_tok", "score_e4")
    val d = qd.withColumn(
      "phase",
      ntile(phases).over(Window.orderBy(col("score_e4").desc, col("doc_id"))).cast("long"))
    phasePackingFrom(d, budget, shards)
  }

  /** x107 scale path: phases from sampled quantiles (x101's threshold
    * rule), identical packing — no global window anywhere.
    */
  def phasePackingByThresholds(
      docs: DataFrame,
      phases: Int = TextAnalysis.CurriculumPhases,
      budget: Int = PackBudget,
      shards: Int = PackShards,
      sampleFraction: Double = 0.1): DataFrame = {
    val d = TextAnalysis.curriculumAssignByThresholds(docs, phases, sampleFraction)
    phasePackingFrom(d, budget, shards)
  }

  /** Shared tail: pack a (doc_id, n_tok, phase) frame per (phase, shard)
    * and roll up per phase.
    */
  private def phasePackingFrom(d: DataFrame, budget: Int, shards: Int): DataFrame = {
    val s = d.withColumn("ord", ordCol).withColumn("shard", col("ord") % shards)
    val w = Window.partitionBy("phase", "shard").orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    s.withColumn("cum", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("pack", expr(s"cum div $budget"))
      .groupBy("phase", "shard", "pack")
      .agg(count(lit(1)).as("pd"), sum("n_tok").as("pt"))
      .groupBy("phase")
      .agg(
        sum("pd").as("n_docs"),
        sum("pt").as("sum_tok"),
        count(lit(1)).as("n_packs"))
      .withColumn("fill_e6", expr(s"(1000000 * sum_tok) div (n_packs * $budget)"))
  }

  /** OOV-rate audit (x102): vocabulary from the x19 train split (words in
    * ≥ minDf distinct train docs), out-of-vocabulary token rate of
    * val/test per source — the pre-tokenizer-freeze coverage check and
    * eval-drift alarm.
    */
  def oovRate(docs: DataFrame): DataFrame = {
    val tok = splitAssign(docs).select(
      col("split"), col("source"), col("doc_id"),
      explode(XText.words(col("text"))).as("tk"))
    val vocab = tok.filter(col("split") === "train")
      .select("tk", "doc_id").distinct()
      .groupBy("tk").agg(count(lit(1)).as("df"))
      .filter(col("df") >= OovMinDf)
      .select(col("tk"), lit(1L).as("in_v"))
    tok.filter(col("split") =!= "train")
      .join(vocab, Seq("tk"), "left")
      .groupBy("split", "source")
      .agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_e6", expr("(1000000 * n_oov) div n_tok"))
  }

  /** x97 core: split-composition DRIFT audit — does each split look like
    * the corpus? For every (split, source) cell — including cells with
    * ZERO docs, the worst drift a split can have — the doc count, the
    * source's share of that split (ppm), its share of the whole corpus
    * (ppm), the signed difference, and mean doc length (e2 tokens). A
    * hash split SHOULD sit near zero drift; this measures it instead of
    * assuming it, and catches any stratification bug (e.g. a split rule
    * correlated with source) before the trainer sees it. Columns (split,
    * source, n_docs, share_ppm, corpus_ppm, drift_ppm, mean_tok_e2).
    *
    * Scale posture (100 TB): one corpus scan into a (split, source) keyed
    * rollup (map-side combinable, |splits|·|sources| cells); split totals,
    * source totals and the grand total are tiny aggregates of those cells
    * joined back broadcast. No window over the corpus, no global sort;
    * output is 3·|sources| rows.
    */
  def splitDrift(docs: DataFrame): DataFrame = {
    val cells = docs
      .select(col("source"), splitCol.as("split"),
        size(XText.words(col("text"))).cast("long").as("n_tok"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
    val splitTot = cells.groupBy("split").agg(sum("n_docs").as("split_docs"))
    val srcTot = cells.groupBy("source").agg(sum("n_docs").as("src_docs"))
    val allTot = cells.agg(sum("n_docs").as("all_docs"))
    val domain = srcTot
      .select(col("source"), col("src_docs"),
        explode(array(lit("train"), lit("val"), lit("test"))).as("split"))
    domain
      .join(cells, Seq("split", "source"), "left")
      .na.fill(0L, Seq("n_docs", "sum_tok"))
      .join(broadcast(splitTot), Seq("split"))
      .crossJoin(broadcast(allTot))
      .withColumn("share_ppm", expr("(n_docs * 1000000) div split_docs"))
      .withColumn("corpus_ppm", expr("(src_docs * 1000000) div all_docs"))
      .withColumn("drift_ppm", col("share_ppm") - col("corpus_ppm"))
      .withColumn("mean_tok_e2",
        when(col("n_docs") === 0L, 0L).otherwise(expr("(sum_tok * 100) div n_docs")))
      .select("split", "source", "n_docs", "share_ppm", "corpus_ppm", "drift_ppm", "mean_tok_e2")
  }

  /** x82 core: shard INTERLEAVING audit — how well are sources mixed in
    * the order a trainer will actually read? Docs stream in the x49 pack
    * order (hash order within `ord % shards` shards); gaps-and-islands
    * over that order finds maximal runs of consecutive same-source docs.
    * Long runs are correlated gradient batches (the reason pipelines
    * hash-shuffle before packing); this measures the property instead of
    * assuming it. Columns (shard, n_docs, n_sources, n_runs, max_run,
    * mean_run_e6).
    *
    * Scale posture (100 TB): one window pass per shard partition (the
    * lag + running-sum pair is a single sort within each shard — the same
    * sort the pack writer already does, so in a fused pipeline this audit
    * is free) and two keyed rollups; nothing global, output is
    * |shards| rows.
    */
  def shardMixing(docs: DataFrame, shards: Int = PackShards): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("ord", "doc_id")
    val runs = docs
      .select(col("doc_id"), col("source"), ordCol.as("ord"))
      .withColumn("shard", col("ord") % shards)
      .withColumn("chg",
        when(lag("source", 1).over(w).isNull || lag("source", 1).over(w) =!= col("source"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum("chg").over(w))
      .groupBy("shard", "run_id")
      .agg(count(lit(1)).as("len"), min("source").as("src"))
    runs
      .groupBy("shard")
      .agg(
        sum("len").as("n_docs"),
        countDistinct("src").as("n_sources"),
        count(lit(1)).as("n_runs"),
        max("len").as("max_run"))
      .withColumn("mean_run_e6", expr("(n_docs * 1000000) div n_runs"))
  }

  /** x83 batch size for the padding-efficiency audit. */
  val PadBatch = 32

  /** x83 core: PADDING-efficiency audit — the measured case for
    * length-grouped batching: fixed-size batches of `b` docs are cut from
    * each shard's stream under two orders (arrival = the x49 hash order a
    * naive loader reads; length = n_tok-descending, the length-grouped
    * sampler), and each batch pays max(n_tok)·n − Σn_tok padding tokens.
    * pad_e6 is the fraction of step compute spent on pad. Sorted
    * contiguous grouping minimizes the sum of batch maxima, so the length
    * strategy can never lose (spec-pinned) — this op reports how MUCH it
    * wins on the actual corpus. Columns
    * (strategy, shard, n_docs, n_batches, sum_tok, pad_tok, pad_e6).
    *
    * Scale posture (100 TB): both orders are per-shard windows — the same
    * partitioning the pack writer already sorts within, never a global
    * sort; rollups are keyed and map-side combinable; output is
    * 2·|shards| rows.
    */
  def padEfficiency(docs: DataFrame, shards: Int = PackShards, b: Int = PadBatch): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      size(XText.words(col("text"))).cast("long").as("n_tok"),
      ordCol.as("ord"))
      .withColumn("shard", col("ord") % shards)
    def audit(strategy: String, w: org.apache.spark.sql.expressions.WindowSpec): DataFrame =
      base.withColumn("rn", row_number().over(w))
        .withColumn("bid", expr(s"(rn - 1) div $b"))
        .groupBy("shard", "bid")
        .agg(count(lit(1)).as("n"), max("n_tok").as("mx"), sum("n_tok").as("st"))
        .groupBy("shard")
        .agg(
          sum("n").as("n_docs"),
          count(lit(1)).as("n_batches"),
          sum("st").as("sum_tok"),
          sum(expr("mx * n - st")).as("pad_tok"))
        .withColumn("strategy", lit(strategy))
    audit("arrival", Window.partitionBy("shard").orderBy("ord", "doc_id"))
      .unionByName(
        audit("length", Window.partitionBy("shard").orderBy(col("n_tok").desc, col("doc_id"))))
      .withColumn("pad_e6", expr("(pad_tok * 1000000) div (pad_tok + sum_tok)"))
      .select("strategy", "shard", "n_docs", "n_batches", "sum_tok", "pad_tok", "pad_e6")
  }

  /** x96: minimum DOCUMENT frequency for a line to count as boilerplate
    * (C4 / CCNet line-level dedup: Raffel et al. 2020 drop lines repeated
    * across the corpus; CCNet hashes paragraphs). 5 sits above the
    * fixture's largest exact-dup cluster and far below a real template's
    * frequency, so genuine content is never flagged.
    */
  val BoilerMinDf = 5

  /** x96 line decomposition: one row per non-empty trimmed line of each
    * doc, with its position (for order-preserving reconstruction), 60-bit
    * line hash and char count. Pure per-row array algebra inside the scan
    * — no shuffle, no UDF.
    */
  def docLines(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        col("source"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "raw")))
      .withColumn("line", trim(col("raw")))
      .filter(col("line") =!= "")
      .select(
        col("doc_id"),
        col("source"),
        col("pos").cast("long").as("pos"),
        col("line"),
        h60(col("line")).as("lh"),
        length(col("line")).cast("long").as("nc"))

  /** Corpus-frequent line hashes — the boilerplate set. One keyed,
    * map-side-combinable aggregation on the line hash; the `>= minDf`
    * filter keeps only template lines, so the result is tiny (it shrinks
    * as the threshold rises) and every consumer can broadcast it.
    */
  def boilerplateLines(docs: DataFrame, minDf: Int = BoilerMinDf): DataFrame =
    docLines(docs)
      .groupBy("lh")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDf)

  /** x96 core: C4-style line-level boilerplate audit — which lines repeat
    * across `minDf`+ distinct docs (nav bars, cookie banners, per-source
    * footers), and how much of each source they are. Columns (source,
    * n_docs, n_lines, lines_removed, n_boiler_distinct, chars_removed,
    * chars_kept, removed_ppm).
    *
    * Scale posture (100 TB): the document-frequency count is the one
    * shuffle (keyed on the 60-bit line hash, partial-aggregated map-side);
    * the boilerplate set is threshold-filtered so it broadcasts, making
    * the flagging join shuffle-free; the per-source rollup is keyed and
    * combinable. Output is |sources| rows.
    */
  def boilerplateAudit(docs: DataFrame, minDf: Int = BoilerMinDf): DataFrame = {
    val flagged = docLines(docs)
      .join(
        broadcast(boilerplateLines(docs, minDf).select(col("lh"), lit(1L).as("rm0"))),
        Seq("lh"),
        "left")
      .withColumn("rm", coalesce(col("rm0"), lit(0L)))
    flagged
      .groupBy("source")
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_lines"),
        sum("rm").as("lines_removed"),
        countDistinct(when(col("rm") === 1L, col("lh"))).as("n_boiler_distinct"),
        sum(col("rm") * col("nc")).as("chars_removed"),
        sum((lit(1L) - col("rm")) * col("nc")).as("chars_kept"))
      .withColumn("removed_ppm", expr("(chars_removed * 1000000) div (chars_removed + chars_kept)"))
  }

  /** x96 remediation: the corpus with boilerplate lines REMOVED — each
    * doc's surviving lines rejoined in original order (a doc that was all
    * boilerplate keeps an empty text; drop it downstream with the length
    * filters it would fail anyway). Idempotent: surviving lines keep their
    * document frequency, so a second pass finds no new lines at or above
    * the threshold (spec-pinned).
    *
    * Scale posture (100 TB): flagging is the same broadcast join as the
    * audit; reconstruction is one groupBy(doc_id) whose sort_array is
    * per-doc (lines of one doc), never a global sort.
    */
  def stripBoilerplate(docs: DataFrame, minDf: Int = BoilerMinDf): DataFrame = {
    val kept = docLines(docs)
      .join(broadcast(boilerplateLines(docs, minDf).select("lh")), Seq("lh"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(pos, line))), x -> x.line)"),
        "\n").as("clean_text"))
    docs
      .join(kept, Seq("doc_id"), "left")
      .withColumn("text", coalesce(col("clean_text"), lit("")))
      .drop("clean_text")
  }

  /** x81 planner knobs: train-budget multiple of the corpus token count,
    * and the repeat cap (max epochs per source — Muennighoff et al. 2023
    * show returns decay fast past ~4 repeats).
    */
  val EpochCap = 4L
  val BudgetMult = 3L

  /** Overflow-safe exact `(a * share_e6) div 1e6`: decomposing a into
    * quotient/remainder by 1e6 keeps every intermediate below
    * a/1e6 * 1e6 + 1e12 — identical algebra in both engines.
    */
  private def mulShareE6(a: String, share: String): String =
    s"($a div 1000000) * $share + (($a % 1000000) * $share) div 1000000"
  private def mulShareE6Sql(a: String, share: String): String =
    s"($a // 1000000) * $share + (($a % 1000000) * $share) // 1000000"

  /** x81 core: the token-budget / EPOCH planner — given a training budget
    * of `BudgetMult`x the corpus token count, how many tokens (and so how
    * many repeats) does each source contribute? Weights follow x70's
    * α = 1/2 temperature rule (w ∝ √tokens — IEEE sqrt floored, exact in
    * both engines); each source's raw allocation is capped at `EpochCap`
    * epochs of its available tokens and the capped excess is redistributed
    * once, proportionally, to uncapped sources (one deterministic
    * waterfall round; anything still above cap after redistribution is
    * re-capped and the shortfall is visible as Σplanned < budget). Columns
    * (source, n_docs, avail_tok, w_e3, plan0_tok, planned_tok, epochs_e6,
    * capped).
    *
    * Scale posture (100 TB): one corpus scan for per-source token counts;
    * everything after is |sources|-row algebra with two single-row
    * broadcast totals (never a window over the corpus). Shares are e6
    * fixed-point and allocations use the quotient/remainder decomposition,
    * so the plan stays integer-exact up to ~9e12 tokens per source.
    */
  def tokenBudget(docs: DataFrame): DataFrame = {
    val a = docs
      .select(col("source"), size(XText.words(col("text"))).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("avail_tok"))
      .withColumn("w_e3", floor(sqrt(col("avail_tok").cast("double") * 1e6)).cast("long"))
    val tot = a.agg(sum("avail_tok").as("tot"), sum("w_e3").as("wsum"))
    val j = a.crossJoin(broadcast(tot))
      .withColumn("budget", col("tot") * BudgetMult)
      .withColumn("share_e6", expr("(w_e3 * 1000000) div wsum"))
      .withColumn("plan0", expr(mulShareE6("budget", "share_e6")))
      .withColumn("cap", col("avail_tok") * EpochCap)
      .withColumn("capped", col("plan0") > col("cap"))
    val ex = j.agg(
      sum(when(col("capped"), col("plan0") - col("cap")).otherwise(0L)).as("excess"),
      sum(when(!col("capped"), col("w_e3")).otherwise(0L)).as("wfree"))
    j.crossJoin(broadcast(ex))
      .withColumn("extra", expr(
        "CASE WHEN wfree = 0 THEN 0 ELSE " +
          mulShareE6("excess", "((w_e3 * 1000000) div wfree)") + " END"))
      .withColumn("planned_tok",
        when(col("capped"), col("cap"))
          .otherwise(least(col("cap"), col("plan0") + col("extra"))))
      .withColumn("epochs_e6", expr("(planned_tok * 1000000) div avail_tok"))
      .select(col("source"), col("n_docs"), col("avail_tok"), col("w_e3"),
        col("plan0").as("plan0_tok"), col("planned_tok"), col("epochs_e6"), col("capped"))
  }

  /** x76 core: centroid (Rocchio) bag-of-words classifier — the integer-
    * exact skeleton of classifier-based filtering (the fasttext
    * quality/language classifiers real pipelines train on seed corpora).
    * Train: per (class, token-hash) occurrence counts over the train
    * split, normalized to e6 fixed-point class-conditional frequencies
    * (`(c * 1e6) div total_class_tokens` — integer div, cross-engine
    * exact). Score: a held-out doc's score for a class is the sum of that
    * class's weights over the doc's token OCCURRENCES (a sparse dot
    * product with the class prototype); predicted class = highest score,
    * ties to the lexicographically smaller class. Docs sharing no train
    * vocabulary score nothing and are absent by definition (inner-join
    * semantics, spec-pinned).
    *
    * Columns (doc_id, label, pred, score_e6).
    *
    * Scale posture (100 TB): the model is |vocab| x |classes| e6 weights —
    * a HASH-keyed table built by one map-side-combinable count, typically
    * broadcastable (a 1M-token vocab x 10 classes is 80 MB); scoring is
    * one 8-byte-key join + one (doc, class) aggregation; the argmax is a
    * per-doc window, never global. Nothing iterates: training is a single
    * aggregation pass, which is exactly why Rocchio (not SGD) is the
    * distributed-first choice.
    */
  def centroidClassify(docs: DataFrame, labelCol: Column): DataFrame = {
    val tok = splitAssign(docs).select(
      col("doc_id"), labelCol.as("label"), col("split"),
      explode(graftnative.api.windowHash60(col("text"), 1)).as("h"))
    val cw = tok.filter(col("split") === "train")
      .groupBy(col("label").as("clang"), col("h"))
      .agg(count(lit(1)).as("c"))
    val wt = cw.join(cw.groupBy("clang").agg(sum("c").as("tot")), "clang")
      .select(col("clang"), col("h"), expr("(c * 1000000) div tot").as("w_e6"))
    val sc = tok.filter(col("split") =!= "train")
      .join(wt, "h")
      .groupBy(col("doc_id"), col("label"), col("clang"))
      .agg(sum("w_e6").as("score_e6"))
    val w = Window.partitionBy("doc_id").orderBy(col("score_e6").desc, col("clang"))
    sc.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label"), col("clang").as("pred"), col("score_e6"))
  }

  /** x75 Bloom geometry: `BloomWords` words of 63 usable bits (bit 63 is
    * never set, so `1L << bit` stays a positive BIGINT in both engines and
    * arithmetic shiftright needs no sign mask), probed by `BloomNh` affine
    * hashes over the 60-bit shingle hash — the same (a*h + b) mod P family
    * as the MinHash permutations, so every position is int64-exact
    * cross-engine. Sized for the test corpora (~24k distinct train
    * shingles at both SFs -> ~49% fill): the false-positive rate is a
    * real, visible quantity (~12%) instead of rounding to 0 or 1.
    */
  val BloomWords = 1536
  val BloomBits: Long = BloomWords * 63L
  val BloomNh = 3
  val BloomA: Seq[Long] = (0 until BloomNh).map(i => 2L * i + 3)
  val BloomB: Seq[Long] = (0 until BloomNh).map(i => (15485863L * (i + 1)) % P)

  private def bloomPos(c: Column): Column =
    array(BloomA.zip(BloomB).map { case (a, b) =>
      (((c % P) * a + b) % P) % BloomBits
    }: _*)

  private def bloomPosSql(inner: String): String =
    "[" + BloomA.zip(BloomB)
      .map { case (a, b) => s"(($inner % $P) * $a + $b) % $P % $BloomBits" }
      .mkString(", ") + "]"

  /** x75 core: Bloom-prefiltered decontamination audit. Builds a bit-packed
    * Bloom filter over the train split's distinct word-k-gram hashes (one
    * `bit_or` aggregation into `BloomWords` longs), probes every held-out
    * shingle against it, and joins the exact train set back in so the
    * output separates TRUE overlaps from Bloom FALSE POSITIVES — the
    * measurement that justifies the filter's size. Columns
    * (doc_id, source, split, n_sh, n_maybe, n_hit); n_maybe >= n_hit by
    * construction (a Bloom filter never misses).
    *
    * Scale posture (100 TB): this is the pre-filter x23's Scaladoc promises.
    * The filter is corpus-size-INDEPENDENT state — BloomWords longs (12 KiB
    * here; a few GiB for a real benchmark suite) built by one map-side
    * combinable bit_or aggregation, then BROADCAST: the held-out probe is a
    * zero-shuffle scan, and only probable collisions would continue to the
    * exact join, whose build side shrinks from |train shingles| to
    * |bloom hits|. Here both paths are kept to audit the FP rate itself.
    */
  def bloomDecontam(docs: DataFrame, k: Int = 5): DataFrame = {
    val sh = splitAssign(docs).select(
      col("doc_id"), col("source"), col("split"),
      explode(graftnative.api.shingleHash60(col("text"), k)).as("sgl"))
    val tr = sh.filter(col("split") === "train").select("sgl").distinct()
    val bloom = tr
      .select(explode(bloomPos(col("sgl"))).as("pos"))
      .select(expr("pos div 63").as("wi"), expr("CAST(pos % 63 AS INT)").as("bit"))
      .groupBy("wi")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("word"))
    val probed = sh.filter(col("split") =!= "train")
      .select(col("doc_id"), col("source"), col("split"), col("sgl"),
        explode(bloomPos(col("sgl"))).as("pos"))
      .withColumn("wi", expr("pos div 63"))
      .join(broadcast(bloom), Seq("wi"), "left")
      .withColumn(
        "hit",
        coalesce(expr("shiftright(word, CAST(pos % 63 AS INT)) & CAST(1 AS BIGINT)"), lit(0L)))
      .groupBy("doc_id", "source", "split", "sgl")
      .agg(min("hit").as("maybe"))
    probed
      .join(tr.withColumn("_hit", lit(1L)), Seq("sgl"), "left")
      .withColumn("hit", coalesce(col("_hit"), lit(0L)))
      .groupBy("doc_id", "source", "split")
      .agg(
        count(lit(1)).as("n_sh"),
        sum("maybe").as("n_maybe"),
        sum("hit").as("n_hit"))
  }

  /** Concat-and-chunk pack assignment: docs in deterministic hash order
    * within `shards` shards, a doc belongs to the pack its first token
    * lands in. Columns (doc_id, n_tok, shard, pack).
    */
  def packAssignments(docs: DataFrame, budget: Int = PackBudget, shards: Int = PackShards): DataFrame =
    packAssignmentsOrd(docs.withColumn("ord", ordCol), budget, shards)

  /** [[packAssignments]] with a caller-supplied `ord` column (docs must
    * carry doc_id, text, ord). Lets fixtures place rows deliberately —
    * e.g. x66's mirror dups share their original's ord so they pack
    * adjacently — while production callers keep the hash order.
    */
  def packAssignmentsOrd(docs: DataFrame, budget: Int = PackBudget, shards: Int = PackShards): DataFrame = {
    val t = docs
      .select(
        col("doc_id"),
        size(XText.words(col("text"))).cast("long").as("n_tok"),
        col("ord"))
      .withColumn("shard", col("ord") % shards)
    val w = Window.partitionBy("shard").orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("cum", coalesce(sum("n_tok").over(w), lit(0L)))
      .select(col("doc_id"), col("n_tok"), col("ord"), col("shard"),
        expr(s"cum div $budget").as("pack"))
  }

  /** Pack hygiene audit (x66): per (shard, pack) doc count, source
    * diversity and duplicate EXCESS (norm-key collisions inside the same
    * context window — wasted compute + memorization risk).
    */
  def packHygiene(docs: DataFrame, budget: Int = PackBudget,
      shards: Int = PackShards): DataFrame =
    packHygieneOrd(docs.withColumn("ord", ordCol), budget, shards)

  /** [[packHygiene]] with a caller-supplied `ord` column (docs must carry
    * doc_id, source, text, ord), the way [[packAssignmentsOrd]] takes one.
    */
  def packHygieneOrd(docs: DataFrame, budget: Int = PackBudget,
      shards: Int = PackShards): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"),
      h60(Dedup.normText(col("text"))).as("key"))
    packAssignmentsOrd(docs, budget, shards)
      .join(keyed, "doc_id")
      .groupBy("shard", "pack")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"),
        (count(lit(1)) - countDistinct("key")).as("dup_excess"))
  }

  /** x69 core: deterministic pack REPAIR — the remediation the x66 audit
    * calls for. Docs whose normalized-text key collides inside their own
    * pack (every within-pack occurrence after the first, by packing
    * order) are SWAPPED with a same-`n_tok` doc whose key is globally
    * unique and whose pack carries no collision at all; because the two
    * docs have equal token counts, every pack's doc count and token sum
    * are preserved exactly — no re-packing, no budget drift. Matching is
    * rank-to-rank inside each n_tok group (movers and candidates both
    * ordered by (shard, pack, ord, doc_id)), then guarded: a swap is
    * dropped if the target pack already holds the mover's key, or if two
    * same-key movers would land in one pack — so repair can only reduce
    * within-pack duplication, never create it. Unmatched movers stay put
    * and surface in the residual audit.
    *
    * Input must carry (doc_id, text, ord); output is the repaired
    * assignment (doc_id, key, n_tok, shard, pack, moved).
    *
    * Scale posture (100 TB): everything is window ranks over the pack
    * frame plus hash joins on 8-byte keys — the mover/candidate tables
    * are duplicate-bounded (tiny next to the corpus), and the final
    * plan applies two broadcast-size left joins to the full frame. No
    * global sort; ranks partition by n_tok / pack exactly like the
    * packing cumsum itself.
    */
  def packRepair(docs: DataFrame, budget: Int = PackBudget, shards: Int = PackShards): DataFrame = {
    // derive the hash packing order when the caller didn't supply one
    // (fixtures pass an explicit ord to place rows deliberately)
    val withOrd = if (docs.columns.contains("ord")) docs else docs.withColumn("ord", ordCol)
    val keyed = withOrd.select(col("doc_id"), XHash.h60(Dedup.normText(col("text"))).as("key"))
    // the keyed pack frame feeds SIX consumers below (occurrence ranks,
    // collision-pack set, key counts, candidate ranks, the target-pack
    // guard and the two final joins); un-materialized, each consumer
    // re-derives the normalization + packing cumsum from text — the plan
    // carried 92 exchanges. One materialization, every consumer reads it.
    val p = DedupClusters.ckpt(
      packAssignmentsOrd(withOrd, budget, shards).join(keyed, "doc_id"))
    val byOcc = Window.partitionBy("shard", "pack", "key").orderBy("ord", "doc_id")
    val rkx = p.withColumn("rk", row_number().over(byOcc))
    val dirty = rkx.filter(col("rk") >= 2).select("shard", "pack").distinct()
    val kcnt = p.groupBy("key").agg(count(lit(1)).as("kc"))
    val byMatch = Window.partitionBy("n_tok").orderBy("shard", "pack", "ord", "doc_id")
    val movers = rkx.filter(col("rk") >= 2)
      .withColumn("mi", row_number().over(byMatch))
      .select(col("doc_id").as("m_id"), col("key").as("m_key"), col("n_tok"),
        col("shard").as("m_shard"), col("pack").as("m_pack"), col("mi"))
    val cands = rkx.filter(col("rk") === 1)
      .join(kcnt, "key").filter(col("kc") === 1)
      .join(dirty, Seq("shard", "pack"), "left_anti")
      .withColumn("cj", row_number().over(byMatch))
      .select(col("doc_id").as("c_id"), col("n_tok"),
        col("shard").as("c_shard"), col("pack").as("c_pack"), col("cj"))
    // Alias the two legs explicitly: both derive from the same frame, and
    // `movers("n_tok") === cands("n_tok")` would resolve to ONE attribute,
    // relying on Spark's trivially-true-predicate self-join fixup (WARN in
    // the logs, silent cross join if the lineage ever changes).
    val paired = movers.as("m").join(cands.as("c"),
      col("m.n_tok") === col("c.n_tok") && col("m.mi") === col("c.cj"))
      .select("m_id", "m_key", "m_shard", "m_pack", "c_id", "c_shard", "c_pack")
    // guard 1: the target pack must not already hold the mover's key
    val ok1 = paired.join(
      p.select(col("shard").as("c_shard"), col("pack").as("c_pack"), col("key").as("m_key")),
      Seq("c_shard", "c_pack", "m_key"), "left_anti")
    // guard 2: at most one mover per key per target pack
    val byTarget = Window.partitionBy("m_key", "c_shard", "c_pack").orderBy("m_id")
    val ok = ok1.withColumn("g", row_number().over(byTarget)).filter(col("g") === 1)
    p.join(ok.select(col("m_id").as("doc_id"), col("c_shard"), col("c_pack")), Seq("doc_id"), "left")
      .join(ok.select(col("c_id").as("doc_id"), col("m_shard"), col("m_pack")), Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("key"), col("n_tok"),
        coalesce(col("c_shard"), col("m_shard"), col("shard")).as("shard"),
        coalesce(col("c_pack"), col("m_pack"), col("pack")).as("pack"),
        (col("c_shard").isNotNull || col("m_shard").isNotNull).as("moved"))
  }

  /** x70 target size: the corpus-wide doc budget the temperature mixture
    * aims for (oracle-pinned queries inline it).
    */
  val MixTarget = 300L

  /** x70 core: temperature-scaled mixture sampling (Arivazhagan et al.
    * 2019; the α-temperature rule XLM-R and mT5 mix multilingual corpora
    * with, at α = 1/2): group weights w_g ∝ n_g^α flatten the group
    * histogram — low-resource groups keep (nearly) everything, dominant
    * groups are downsampled toward the target total. α = 1/2 makes the
    * weight an integer-exact sqrt (IEEE correctly rounded in BOTH engines,
    * the x35 rule): w_e3 = floor(sqrt(n_g · 1e6)) ≈ 1000·√n_g. Per-doc
    * inclusion p_e6 = min(1e6, target·w_e3·1e6 / (ΣW·n_g)), drawn with the
    * deterministic x61 hash-Bernoulli, so the "random" mixture is
    * reproducible and oracle-checkable. Adds (n_docs, w_e3, p_e6, kept)
    * per doc.
    *
    * Scale posture (100 TB): the rate table is |groups| rows — a broadcast
    * — and the draw is per-row; ONE aggregation over the corpus, no
    * window. Overflow envelope: target·w_e3·1e6 < 2^63 holds to
    * target·√n_g ~ 9e9 (drop the e6/e3 scales together for corpora
    * beyond it).
    */
  def temperatureMix(
      docs: DataFrame,
      by: String = "lang",
      target: Long = MixTarget): DataFrame = {
    require(target > 0, "target must be positive")
    val n = docs.groupBy(by).agg(count(lit(1)).as("n_docs"))
    val w = n.withColumn("w_e3",
      expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000)) AS BIGINT)"))
    val tot = w.agg(sum("w_e3").as("wsum"))
    val rates = w.crossJoin(broadcast(tot))
      .withColumn("p_e6",
        least(lit(1000000L), expr(s"($target * w_e3 * 1000000) div (wsum * n_docs)")))
      .select(col(by), col("n_docs"), col("w_e3"), col("p_e6"))
    docs.join(broadcast(rates), by)
      .withColumn("kept", XHash.h60(col("doc_id").cast("string")) % 1000000L < col("p_e6"))
  }

  /** x73 core: train→eval leakage at the k-token-window level — for every
    * non-train split, how many of its sliding windows (total and
    * distinct) appear verbatim anywhere in the train split, plus the
    * e6 occurrence leak rate. `split` is injectable (the registered query
    * passes the x19 hash split; tests pass their own) — the x56 rule.
    *
    * Scale posture (100 TB): one native windowHash60 scan, a distinct on
    * the train side, one 8-byte hash join, one keyed rollup — the same
    * shuffle shape as x43's span matcher, nothing global.
    */
  def splitLeakage(docs: DataFrame, split: Column, k: Int = SubstrK): DataFrame = {
    val w = docs.select(
      col("doc_id"), split.as("split"),
      explode(graftnative.api.windowHash60(col("text"), k)).as("h"))
    val tr = w.filter(col("split") === "train").select("h").distinct()
      .withColumn("in_train", lit(true))
    w.filter(col("split") =!= "train")
      .join(tr, Seq("h"), "left")
      .withColumn("leaked", coalesce(col("in_train"), lit(false)))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_windows"),
        countDistinct("h").as("n_distinct"),
        sum(when(col("leaked"), 1L).otherwise(0L)).as("n_leaked"),
        countDistinct(when(col("leaked"), col("h"))).as("n_leaked_distinct"),
        expr("(1000000 * sum(CASE WHEN leaked THEN 1 ELSE 0 END)) div count(*)")
          .as("leak_e6"))
  }

  /** x86 core: split REPAIR — the remediation x73's audit calls for.
    * Every non-train doc with at least one k-token window present
    * verbatim in train is QUARANTINED (left out of eval; train is
    * untouched, so one pass suffices — unlike "move to train", which
    * enlarges train and can re-leak into the survivors). Returns one row
    * per non-train split with the audit re-run on the repaired
    * assignment: leak_after is RECOMPUTED from the kept docs' windows
    * against the same train set, not assumed zero. Docs shorter than k
    * tokens carry no windows, cannot leak, and are kept.
    *
    * Scale posture (100 TB): x73's exact shuffle shape (one native
    * windowHash60 scan, train-side distinct, one 8-byte hash join) plus
    * one per-doc rollup on (doc_id, split) and a per-split aggregate
    * whose output is |splits| rows — the repair costs one more keyed
    * shuffle than the audit it fixes, nothing global.
    */
  def splitRepair(docs: DataFrame, split: Column, k: Int = SubstrK): DataFrame = {
    val base = docs.select(col("doc_id"), split.as("split"), col("text"))
    val w = base.select(
      col("doc_id"), col("split"),
      explode(graftnative.api.windowHash60(col("text"), k)).as("h"))
    val tr = w.filter(col("split") === "train").select("h").distinct()
      .withColumn("in_train", lit(true))
    val perDoc = w.filter(col("split") =!= "train")
      .join(tr, Seq("h"), "left")
      .groupBy("doc_id", "split")
      .agg(
        count(lit(1)).as("nw"),
        sum(when(coalesce(col("in_train"), lit(false)), 1L).otherwise(0L)).as("nl"))
    base.filter(col("split") =!= "train")
      .select("doc_id", "split")
      .join(perDoc, Seq("doc_id", "split"), "left")
      .na.fill(0L, Seq("nw", "nl"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("nl") > 0, 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(col("nl") === 0, 1L).otherwise(0L)).as("n_kept"),
        sum("nw").as("win_before"),
        sum("nl").as("leak_before"),
        when(sum("nw") === 0, 0L)
          .otherwise(expr("(1000000 * sum(nl)) div sum(nw)")).as("leak_e6_before"),
        sum(when(col("nl") === 0, col("nw")).otherwise(0L)).as("win_after"),
        sum(when(col("nl") === 0, col("nl")).otherwise(0L)).as("leak_after"),
        when(sum(when(col("nl") === 0, col("nw")).otherwise(0L)) === 0, 0L)
          .otherwise(expr(
            "(1000000 * sum(CASE WHEN nl = 0 THEN nl ELSE 0 END)) div " +
              "sum(CASE WHEN nl = 0 THEN nw ELSE 0 END)")).as("leak_e6_after"))
  }

  /** x89 core: decontamination-method AGREEMENT — the audit that decides
    * which leakage check a pipeline can afford to drop. Three standard
    * methods flag non-train docs against train: exact (normalized-text
    * key match — whole-doc leaks), ngram (any shared 5-gram shingle —
    * x23's check), window (any shared k-token sliding window — x73's
    * basis). Output is one row per method PAIR with flagged counts,
    * intersection, union, and Jaccard e6 — high agreement means the
    * cheaper method suffices; low means they catch different leaks.
    *
    * Scale posture (100 TB): each method is one corpus scan shuffling
    * 8-byte hashes against a train-side distinct — the same shapes as
    * the audits it composes; per-doc flags are one bit and the
    * agreement aggregate is map-side combinable to a SINGLE row,
    * exploded to the 3 pair rows driver-side-free. In a real pipeline
    * the three flag tables already exist; this join-and-aggregate rides
    * on top of them.
    */
  def decontamAgreement(docs: DataFrame, split: Column, k: Int = SubstrK): DataFrame = {
    val base = docs.select(col("doc_id"), split.as("split"), col("text"))
    def anyHit(units: DataFrame, name: String): DataFrame = {
      val tr = units.filter(col("split") === "train").select("h").distinct()
        .withColumn("_t", lit(1L))
      units.filter(col("split") =!= "train")
        .join(tr, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(max(coalesce(col("_t"), lit(0L))).as(name))
    }
    val fe = anyHit(base.select(col("doc_id"), col("split"),
      XHash.h60(Dedup.normText(col("text"))).as("h")), "fe")
    val fn = anyHit(base.select(col("doc_id"), col("split"),
      explode(graftnative.api.shingleHash60(col("text"), 5)).as("h")), "fn")
    val fw = anyHit(base.select(col("doc_id"), col("split"),
      explode(graftnative.api.windowHash60(col("text"), k)).as("h")), "fw")
    val agg = base.filter(col("split") =!= "train").select("doc_id")
      .join(fe, Seq("doc_id"), "left").join(fn, Seq("doc_id"), "left")
      .join(fw, Seq("doc_id"), "left")
      .na.fill(0L, Seq("fe", "fn", "fw"))
      .agg(
        sum("fe").as("se"), sum("fn").as("sn"), sum("fw").as("sw"),
        sum(col("fe") * col("fn")).as("sen"),
        sum(col("fe") * col("fw")).as("sew"),
        sum(col("fn") * col("fw")).as("snw"))
    agg.select(explode(array(
      struct(lit("exact").as("m_a"), lit("ngram").as("m_b"),
        col("se").as("n_a"), col("sn").as("n_b"), col("sen").as("n_both")),
      struct(lit("exact").as("m_a"), lit("window").as("m_b"),
        col("se").as("n_a"), col("sw").as("n_b"), col("sew").as("n_both")),
      struct(lit("ngram").as("m_a"), lit("window").as("m_b"),
        col("sn").as("n_a"), col("sw").as("n_b"), col("snw").as("n_both")))).as("p"))
      .select("p.*")
      .withColumn("n_union", expr("n_a + n_b - n_both"))
      .withColumn("jac_e6",
        expr("CASE WHEN n_a + n_b - n_both = 0 THEN 0 " +
          "ELSE (1000000 * n_both) div (n_a + n_b - n_both) END"))
  }

  /** x90 core: filter ABLATION over the train corpus — what each cleaning
    * stage uniquely removes. Three standard filters flag train docs:
    * quality (fails >= 1 Gopher rule), window_dup (shares a k-token
    * window with an EARLIER train doc — Lee et al. keep-first substring
    * dedup at doc grain), eval_leak (shares a window with any val/test
    * doc — x64's protect-the-eval direction). Per method plus 'any':
    * docs flagged, docs flagged by that method ALONE (the marginal the
    * ablation question asks about — for 'any', docs flagged by exactly
    * one method), token mass flagged, flag rate e6. A filter whose
    * n_only is ~0 is subsumed and can be dropped from the pipeline.
    *
    * Scale posture (100 TB): quality is one native GopherMetrics scan
    * (zero shuffle); both window flags ride ONE windowHash60 explode
    * shuffled once on the 8-byte hash (min/dedup map-side combinable);
    * flags aggregate to a single row exploded into 4 method rows.
    */
  def filterAblation(docs: DataFrame, split: Column, k: Int = SubstrK): DataFrame = {
    val base = docs.select(col("doc_id"), split.as("split"), col("text"))
    val q = TextAnalysis.gopherAnnotate(base)
      .filter(col("split") === "train")
      .select(col("doc_id"), col("nw"),
        when(!TextAnalysis.gopherKeep, 1L).otherwise(0L).as("fq"))
    val occ = base.select(col("doc_id"), col("split"),
      explode(graftnative.api.windowHash60(col("text"), k)).as("h"))
    // ONE aggregate per window hash carries BOTH flags (earliest train doc
    // + seen-in-eval), replacing the r16 three-consumer shape (separate
    // firstTr groupBy + eval distinct + a two-join recombination) that
    // re-ran the corpus windowHash explode three times — repeated-subtree
    // removal (guide §5) done by restructuring, not materialization, so
    // no corpus-sized frame is ever checkpointed at 100 TB. The inner
    // join below never drops a train row (every train window's hash is in
    // its own aggregate), and max(has_eval) over the group is exactly the
    // old left-join + coalesce flag — values identical, oracle-checked.
    val hAgg = occ.groupBy("h").agg(
      min(when(col("split") === "train", col("doc_id"))).as("first_doc"),
      max(when(col("split") =!= "train", 1L).otherwise(0L)).as("has_eval"))
    val wfl = occ.filter(col("split") === "train")
      .join(hAgg, Seq("h"))
      .groupBy("doc_id")
      .agg(
        max(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("fd"),
        max(col("has_eval")).as("fl"))
    val ag = q.join(wfl, Seq("doc_id"), "left")
      .na.fill(0L, Seq("fd", "fl"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("fq").as("sq"), sum("fd").as("sd"), sum("fl").as("sl"),
        sum(when(col("fq") === 1 && col("fd") === 0 && col("fl") === 0, 1L).otherwise(0L))
          .as("oq"),
        sum(when(col("fd") === 1 && col("fq") === 0 && col("fl") === 0, 1L).otherwise(0L))
          .as("od"),
        sum(when(col("fl") === 1 && col("fq") === 0 && col("fd") === 0, 1L).otherwise(0L))
          .as("ol"),
        sum(greatest(col("fq"), col("fd"), col("fl"))).as("sa"),
        sum(when(col("fq") + col("fd") + col("fl") === 1, 1L).otherwise(0L)).as("oa"),
        sum(col("nw") * col("fq")).as("nwq"),
        sum(col("nw") * col("fd")).as("nwd"),
        sum(col("nw") * col("fl")).as("nwl"),
        sum(col("nw") * greatest(col("fq"), col("fd"), col("fl"))).as("nwa"))
    ag.select(explode(array(
      struct(lit("quality").as("method"), col("sq").as("n_flagged"),
        col("oq").as("n_only"), col("nwq").as("nw_flagged"), col("n_docs").as("n_docs")),
      struct(lit("window_dup").as("method"), col("sd").as("n_flagged"),
        col("od").as("n_only"), col("nwd").as("nw_flagged"), col("n_docs").as("n_docs")),
      struct(lit("eval_leak").as("method"), col("sl").as("n_flagged"),
        col("ol").as("n_only"), col("nwl").as("nw_flagged"), col("n_docs").as("n_docs")),
      struct(lit("any").as("method"), col("sa").as("n_flagged"),
        col("oa").as("n_only"), col("nwa").as("nw_flagged"), col("n_docs").as("n_docs"))))
      .as("p"))
      .select("p.*")
      .withColumn("flag_e6",
        expr("CASE WHEN n_docs = 0 THEN 0 ELSE (1000000 * n_flagged) div n_docs END"))
  }

  /** Exact-k deterministic sample per stratum: rank by hashed doc_id within
    * each stratum value, keep rank <= quota (a per-row Column, so quotas
    * can vary by stratum).
    */
  def stratifiedSample(docs: DataFrame, stratum: String, quota: Column): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(ordCol.as("ord"), col("doc_id"))
    docs.withColumn("rk", row_number().over(w)).filter(col("rk") <= quota).drop("rk")
  }

  /** Symmetric int8 floor-quantization with a per-vector scale. Columns
    * (vec_id, label, amax, qv: array<long> in [-127, 127]). Zero vectors
    * (amax = 0) are dropped — they have no quantizable direction.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb.select(
      col("vec_id"),
      col("label").cast("long").as("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .filter(col("amax") > 0)
      .withColumn(
        "qv",
        transform(
          col("v"),
          x => greatest(lit(-127L), least(lit(127L), floor(x * lit(127.0) / col("amax"))))))
      .drop("v")

  /** Hash buckets for x51's n-gram feature space. DSIR hashes n-grams into
    * 10k buckets at web scale; 512 keeps per-bucket counts non-sparse on
    * the test corpus while the algebra is bucket-count-blind.
    */
  val DsirBuckets = 512

  /** Selection budget (docs kept) for the x51 query. */
  val DsirTopK = 60

  /** x51 core: DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): represent
    * every doc as a BAG of hashed word unigram+bigram features (B buckets),
    * fit target and raw feature distributions from the corpus itself, and
    * score each RAW doc by its mean per-feature target/raw likelihood
    * ratio with add-one smoothing. Per the x33/x44 fixed-point convention
    * the paper's log-ratio is dropped so the score crosses the oracle
    * integer-exact:
    *   w_e6(b) = ((ct+1)·1e6 div (cr+1)) · ((R+B)·1e6 div (T+B)) div 1e6
    * (ct/cr = bucket occurrences in target/raw, T/R their totals) — the
    * per-feature map is monotone in the paper's ratio, so "looks like the
    * target" ordering is preserved; only the inter-feature mixing differs
    * (arithmetic instead of geometric mean). Returns one row per RAW doc:
    * (doc_id, source, n_feat, score_e6).
    *
    * Scale posture (100 TB): features travel as (60-bit hash % B) keys;
    * the bucket table aggregates to B rows with map-side combine in ONE
    * corpus scan and is BROADCAST back, so scoring is scan + broadcast
    * join + one groupBy(doc_id) shuffle — no corpus-side sort anywhere.
    * Overflow envelope: (ct+1)·1e6 < 2^63 holds to ~9e12 occurrences per
    * bucket; at ~1e13 corpus tokens use B = 65536 so per-bucket counts sit
    * near 1e8, far inside it.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int = DsirBuckets): DataFrame = {
    val feats = docs
      .select(
        col("doc_id"), col("source"), isTarget.as("is_t"),
        explode(concat(
          graftnative.api.windowHash60(col("text"), 1),
          graftnative.api.windowHash60(col("text"), 2))).as("h"))
      .select(col("doc_id"), col("source"), col("is_t"), (col("h") % buckets).as("b"))
    val bc = feats.groupBy("b").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_t"), 1L).otherwise(0L)).as("cr"))
    // totals via a whole-frame window over the ALREADY-AGGREGATED B-row
    // bucket table (the x26 shape) — trivially small
    val wt = bc
      .withColumn("t_all", sum("ct").over(Window.partitionBy()))
      .withColumn("r_all", sum("cr").over(Window.partitionBy()))
      .withColumn(
        "w_e6",
        expr(s"((((ct + 1) * 1000000) div (cr + 1)) * " +
          s"(((r_all + $buckets) * 1000000) div (t_all + $buckets))) div 1000000"))
      .select("b", "w_e6")
    feats.filter(!col("is_t"))
      .join(broadcast(wt), "b")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_feat"), sum("w_e6").as("sw"))
      .select(
        col("doc_id"), col("source"), col("n_feat"),
        expr("sw div n_feat").as("score_e6"))
  }

  /** x51 scale path: threshold selection instead of the exact global
    * top-k. The oracle query ranks every raw doc in one unpartitioned
    * window — exact, but a single-partition sort of the per-doc score
    * frame, which at 100 TB is corpus-sized. Here the keep threshold is
    * the (1 - keepFrac) quantile of score_e6 over a deterministic doc_id
    * hash-sample (ONE long collected at the driver, the x33/q24 percentile
    * pattern) and selection is a per-row comparison — no global window
    * anywhere. Because scores are integers and `selected = score_e6 >=
    * thr`, the kept set is exactly the top-m by score for the m the
    * threshold induces; only m-vs-target drifts with the sample (the spec
    * bounds it on the real corpus). Adds a `selected` column to
    * [[dsirWeights]]'s output.
    */
  def dsirSelectThreshold(
      docs: DataFrame,
      isTarget: Column,
      keepFrac: Double = 0.2,
      buckets: Int = DsirBuckets,
      sampleFraction: Double = 0.5,
      exactQuantile: Boolean = false): DataFrame = {
    require(keepFrac > 0 && keepFrac < 1, "keepFrac must be in (0, 1)")
    // the scored frame feeds both the driver-side quantile and the final
    // selection scan; on a real cluster a reliable checkpoint (a session
    // checkpoint dir) keeps that reuse recoverable across executor loss.
    val scored = DedupClusters.ckpt(dsirWeights(docs, isTarget, buckets))
    val keep = math.max(1L, math.min(1000L, (sampleFraction * 1000).toLong))
    if (exactQuantile) {
      // The ORACLE-KEYED form (x57_pipeline_threshold): the sample draw is
      // the cross-engine h60 hash and the threshold is the EXACT percentile
      // of the sampled scores — both reproducible in DuckDB (quantile_cont
      // and Spark's percentile share the linear-interpolation definition,
      // and the inputs are integers, so the double agrees bitwise). Same
      // plan shape as the default: the quantile is an AGGREGATE over the
      // sample, never a ranking window. At 100 TB prefer the default
      // approx_percentile (GK sketch, bounded memory per partition) —
      // exact percentile's value-count state grows with distinct scores.
      val pct = s"percentile(score_e6, ${1.0 - keepFrac})"
      val sampled = scored
        .filter(XHash.h60(col("doc_id").cast("string")) % 1000L < lit(keep))
        .agg(expr(pct)).first()
      val thr =
        if (!sampled.isNullAt(0)) sampled.getDouble(0)
        else {
          val all = scored.agg(expr(pct)).first()
          if (all.isNullAt(0)) Double.MaxValue else all.getDouble(0)
        }
      scored.withColumn("selected", col("score_e6").cast("double") >= thr)
    } else {
      val pct = s"approx_percentile(score_e6, ${1.0 - keepFrac})"
      // A tiny corpus can leave the 1/1000-floor hash-sample empty, where
      // approx_percentile returns null — fall back to the exact (unsampled)
      // percentile rather than NPE; if even that is null the frame itself is
      // empty and the threshold never compares against a row.
      val sampled = scored
        .filter(pmod(xxhash64(col("doc_id")), lit(1000L)) < lit(keep))
        .agg(expr(pct)).first()
      val thr =
        if (!sampled.isNullAt(0)) sampled.getLong(0)
        else {
          val all = scored.agg(expr(pct)).first()
          if (all.isNullAt(0)) Long.MaxValue else all.getLong(0)
        }
      scored.withColumn("selected", col("score_e6") >= thr)
    }
  }

  /** The x57 pipeline's corpus-prep prefix, shared by the oracle-exact
    * query and [[pipelineThreshold]]: Gopher/C4 quality rules (x16) →
    * exact dedup on normalized text (x01) → duplicated-span removal
    * (x43, emptied docs dropped) → re-join to the survivor metadata.
    * Columns (doc_id, source, lang, text, n_removed).
    *
    * The two reused stage boundaries are materialized: `deduped` feeds
    * span removal (which reads it three ways) plus the re-join, and the
    * returned corpus feeds DSIR scoring plus both selection branches —
    * without the cut, Catalyst duplicates the whole upstream chain into
    * every consumer (~6 corpus scans; 59 shuffles vs ~17 composed). At
    * 100 TB these are the stage boundaries you would persist between jobs
    * anyway — run under a checkpoint dir for a reliable (storage-backed) cut.
    */
  def pipelineCorpus(docs: DataFrame): DataFrame = {
    // project to the carry columns BEFORE the dedup shuffle (x27 rule)
    val quality = TextAnalysis.qualityFilter(
      docs.select("doc_id", "source", "lang", "text"))
      .select("doc_id", "source", "lang", "text")
    val deduped = DedupClusters.ckpt(Dedup.dedupExact(quality))
    val clean = removeSharedSpans(deduped)
      .filter(col("text_clean") =!= "")
      .select(col("doc_id"), col("text_clean"), col("n_removed"))
    DedupClusters.ckpt(
      deduped.drop("text").join(clean, "doc_id")
        .withColumnRenamed("text_clean", "text"))
  }

  /** The x57 pipeline's reporting suffix: deterministic 90/5/5 split
    * (x19) → per-split doc/token/removed/source stats.
    */
  private[graft] def pipelineRollup(selected: DataFrame): DataFrame =
    selected
      .withColumn("split", splitCol)
      .withColumn("n_tok", size(XText.words(col("text"))).cast("long"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        sum("n_removed").as("removed_tokens"),
        countDistinct("source").as("n_sources"))
      .orderBy("split")

  /** x57 at scale: the SAME one-plan corpus pipeline with the DSIR
    * selection swapped from the oracle-exact global top-k rank (a
    * corpus-sized single-partition sort — the registered query's pin) to
    * [[dsirSelectThreshold]]'s sampled-quantile rule, so NO ranking
    * window in the whole plan is unpartitioned (the only remaining
    * whole-frame windows are dsirWeights' sums over the
    * already-aggregated B-row bucket table — the x26 bounded-frame
    * shape). Selection becomes a per-row `score_e6 >= thr` comparison;
    * because scores are integers the kept set is exactly the top-m the
    * threshold induces, and only m-vs-target drifts with the sample.
    * This is the form the CLI/library path runs at 100 TB; the spec pins
    * plan shape (zero unpartitioned ranking windows) and
    * target-leg/stage consistency against the exact pin.
    */
  def pipelineThreshold(
      docs: DataFrame,
      keepFrac: Double = 0.2,
      exactQuantile: Boolean = false): DataFrame = {
    val corpus = pipelineCorpus(docs)
    val sel = dsirSelectThreshold(
      corpus, col("lang") === "en", keepFrac,
      exactQuantile = exactQuantile)
      .filter(col("selected"))
      .select("doc_id")
    val selected = corpus.filter(col("lang") === "en")
      .unionByName(corpus.filter(col("lang") =!= "en").join(sel, "doc_id"))
    pipelineRollup(selected)
  }

  /** x61 core: DSIR importance RESAMPLING — the paper's actual selection
    * rule (Xie et al. 2023 resample ∝ importance weight; x51's top-k /
    * threshold is the hard-selection variant). Distributed form: Bernoulli
    * draw per raw doc with inclusion probability ∝ score, targeting
    * `target` expected keeps —
    *   p_e6(i) = min(1e6, (score_e6(i)·1e6) div (Σscore_e6 div target + 1))
    *   keep(i) ⇔ h60(doc_id) mod 1e6 < p_e6(i)
    * The draw is the deterministic cross-engine hash, so the "random"
    * sample is reproducible and oracle-checkable; weights above the cap
    * keep with certainty (the paper's resampling saturates the same way).
    * Adds (p_e6, kept) to [[dsirWeights]]'s output.
    *
    * Scale posture (100 TB): the score total is ONE single-row aggregate
    * broadcast back (never a whole-frame window, which would single-
    * partition the corpus); the draw is per-row. Same overflow envelope as
    * x51: score_e6·1e6 < 2^63 holds to score_e6 ~ 9e12.
    */
  def dsirResample(
      docs: DataFrame,
      isTarget: Column,
      target: Long = DsirTopK.toLong,
      buckets: Int = DsirBuckets): DataFrame = {
    require(target > 0, "target must be positive")
    // materialize once: the scored frame feeds BOTH the single-row total
    // and the per-row draw — without the cut the whole scoring subtree
    // (feature explode + bucket join) runs twice (plan-audit-visible)
    val scored = DedupClusters.ckpt(dsirWeights(docs, isTarget, buckets))
    // coalesce: sum over an empty/all-null raw set is NULL, which would
    // poison p_e6 and make `kept` null — callers reading it as Boolean
    // (.as[Boolean]) would NPE. An empty corpus keeps nothing, cleanly.
    val tot = scored.agg(coalesce(sum("score_e6"), lit(0L)).as("s_tot"))
    scored.crossJoin(broadcast(tot))
      .withColumn(
        "p_e6",
        least(lit(1000000L), expr(s"(score_e6 * 1000000) div (s_tot div $target + 1)")))
      .withColumn("kept", coalesce(
        XHash.h60(col("doc_id").cast("string")) % 1000000L < col("p_e6"), lit(false)))
      .drop("s_tot")
  }

  /** x112 core: SHUFFLE-KEY SKEW profiler — the audit you run BEFORE
    * choosing a partitioning strategy. Every `groupBy`/`join` on a real
    * key column inherits that column's mass distribution, and one hot key
    * (the null user, the bot account, the default value) turns a
    * 1000-executor shuffle into a one-straggler stage. Per event_type:
    * row/key counts, the heaviest key's mass, skew_e6 = 1e6 · max/mean
    * (1e6 = perfectly uniform; the straggler multiplier a naive hash
    * partition would suffer), and the hot-key set (keys above 2× mean —
    * the salting candidates) with its row mass. This is the measured
    * input to the cc_megastar_salted decision: salt when skew_e6 says so,
    * not by folklore.
    *
    * Scale posture (100 TB): ONE corpus scan — the (type, key) count
    * (map-side combinable; exactly the shuffle being audited) is
    * localCheckpoint-pinned at |keys| rows so the stats rollup and the
    * hot-key pass both read the materialized counts instead of
    * re-scanning events (plan-probed: 1 parquet scan, vs 4 without the
    * pin). The per-type stats frame (|types| rows) broadcasts back for
    * the hot pass. No window, no sort. The 1e6·max·n_keys product stays
    * in i64 while max·n_keys < 9.2e12 — beyond that, audit per key-range
    * shard or move the two multipliers to decimal(38).
    */
  def keySkew(events: DataFrame): DataFrame = {
    val perKey = events.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val stats = perKey.groupBy("event_type").agg(
      sum("cnt").as("n_rows"),
      count(lit(1)).as("n_keys"),
      max("cnt").as("max_key_rows"))
    val hot = perKey.join(broadcast(stats), "event_type")
      .filter(col("cnt") * col("n_keys") > col("n_rows") * 2)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hot_keys"), sum("cnt").as("hot_rows"))
    stats.join(hot, Seq("event_type"), "left")
      .na.fill(0L, Seq("n_hot_keys", "hot_rows"))
      .withColumn("skew_e6", expr("(1000000 * max_key_rows * n_keys) div n_rows"))
      .withColumn("hot_e6", expr("(1000000 * hot_rows) div n_rows"))
      .select("event_type", "n_rows", "n_keys", "max_key_rows", "skew_e6",
        "n_hot_keys", "hot_rows", "hot_e6")
  }

  /** x123 output-shard fan-out: enough shards that balance is non-trivial
    * at fixture SF, small enough that the report is readable.
    */
  val ShardN = 16L

  /** x123 core: OUTPUT-SHARD BALANCE audit — x112's question pointed at
    * the WRITE side: if the corpus ships as [[ShardN]] hash-sharded
    * output files (shard = h60(doc_id) mod N — the layout x83's
    * interleaving and every downstream loader consume), how even is the
    * split? Per shard: docs, token mass, tok_ppm (share of total, e6)
    * and dev_e6 = 1e6·n_tok·N div total — 1e6 is perfect balance, and
    * max(dev_e6)/1e6 is the straggler multiplier of any stage that
    * processes shards in parallel (training-data loaders read shards as
    * units; one fat shard IS the epoch's critical path). Doc-count
    * balance is near-guaranteed by the hash; TOKEN balance is not (a
    * shard that hash-catches the long-doc tail runs hot) — which is why
    * the audit reports both. Columns (shard, n_docs, n_tok, tok_ppm,
    * dev_e6).
    *
    * Scale posture (100 TB): one tokenize scan into an N-row keyed
    * aggregate (map-side combinable), then a broadcast 1-row total join
    * — no window, no sort; the same disjoint-key replication argument as
    * x112 makes the ppm/dev columns provably invariant at N× corpus.
    */
  def shardBalance(docs: DataFrame): DataFrame = {
    val g = docs
      .select(
        (XHash.h60(col("doc_id").cast("string")) % ShardN).as("shard"),
        size(XText.words(col("text"))).cast("long").as("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"))
    val tot = g.agg(sum("n_tok").as("tot"))
    g.crossJoin(broadcast(tot))
      .withColumn("tok_ppm", expr("(1000000 * n_tok) div tot"))
      .withColumn("dev_e6", expr(s"(1000000 * n_tok * $ShardN) div tot"))
      .select("shard", "n_docs", "n_tok", "tok_ppm", "dev_e6")
  }

  val queries: Seq[Q] = Seq(
    // ----- x21: sequence packing (concat-and-chunk, GPT-style) -----
    Q(
      "x21_pack_sequences",
      Some(
        s"WITH t AS (SELECT doc_id, len(${XText.wordsSql("text")}) AS n_tok, " +
          s"$ordSql AS ord FROM documents), " +
          s"s AS (SELECT doc_id, n_tok, ord, ord % $PackShards AS shard FROM t), " +
          "c AS (SELECT shard, n_tok, coalesce(sum(n_tok) OVER (PARTITION BY shard " +
          "ORDER BY ord, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum " +
          "FROM s), " +
          s"p AS (SELECT shard, cum // $PackBudget AS pack, count(*) AS n_docs, " +
          "sum(n_tok) AS toks FROM c GROUP BY 1, 2) " +
          "SELECT CAST(n_docs AS BIGINT) AS docs_per_pack, count(*) AS n_packs, " +
          "CAST(sum(toks) AS BIGINT) AS sum_tokens FROM p GROUP BY 1 ORDER BY 1"),
      s"sequence packing the way LLM trainers consume text: docs are concatenated in a " +
        s"deterministic hash-shuffled order and chunked every $PackBudget tokens; a doc belongs " +
        "to the pack its first token lands in. The order is per-SHARD (hash % " +
        s"$PackShards), so the cumulative-sum window is partitioned — no global sort; at 100 TB " +
        "each writer task packs its own shard independently. Output: docs-per-pack histogram."
    ) { (s, dir) =>
      packAssignments(table(s, dir, "documents"))
        .groupBy("shard", "pack")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("toks"))
        .groupBy(col("n_docs").as("docs_per_pack"))
        .agg(count(lit(1)).as("n_packs"), sum("toks").as("sum_tokens"))
        .orderBy("docs_per_pack")
    },

    // ----- x22: stratified exact-k sampling (downsample the dominant language) -----
    Q(
      "x22_sample_stratified",
      Some(
        s"WITH r AS (SELECT lang, n_chars, ROW_NUMBER() OVER (PARTITION BY lang " +
          s"ORDER BY $ordSql, doc_id) AS rk FROM documents) " +
          "SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
          "FROM r WHERE rk <= CASE WHEN lang = 'en' THEN 30 ELSE 60 END " +
          "GROUP BY lang ORDER BY lang"),
      "exact-k per-stratum sampling without an RNG: rank docs within each language by a " +
        "deterministic md5 hash of doc_id and keep the first k (en is downsampled to 30, the " +
        "rest get 60) — reproducible across runs, engines and cluster sizes. The window is " +
        "partitioned by language; rank<=k plans WindowGroupLimit so each shuffle partition " +
        "forwards only k candidates. At 100 TB with skewed strata, switch to the threshold " +
        "form (keep hash < k/n * 2^60, no window) at the cost of k being approximate."
    ) { (s, dir) =>
      val quota = when(col("lang") === "en", 30).otherwise(60)
      stratifiedSample(table(s, dir, "documents"), "lang", quota)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    },

    // ----- x23: n-gram-level train/test contamination -----
    Q(
      "x23_contam_ngram",
      Some {
        val sh = XText.shinglesSql("ws", 5)
        s"WITH w AS (SELECT doc_id, source, $splitSql AS split, " +
          s"${XText.wordsSql("text")} AS ws FROM documents), " +
          s"sl AS (SELECT doc_id, source, split, $sh AS ss FROM w), " +
          s"sh AS (SELECT doc_id, source, split, unnest(list_transform(ss, sgl -> ${h60Sql("sgl")})) " +
          "AS sgl FROM sl), " +
          "tr AS (SELECT DISTINCT sgl FROM sh WHERE split = 'train'), " +
          "te AS (SELECT s.doc_id, s.source, s.split, CASE WHEN t.sgl IS NULL THEN 0 ELSE 1 END " +
          "AS hit FROM sh s LEFT JOIN tr t ON s.sgl = t.sgl WHERE s.split <> 'train'), " +
          "d AS (SELECT doc_id, source, split, count(*) AS n_sh, sum(hit) AS n_hit " +
          "FROM te GROUP BY 1, 2, 3) " +
          "SELECT source, split, count(*) AS n_docs, CAST(sum(n_sh) AS BIGINT) AS sum_shingles, " +
          "CAST(sum(n_hit) AS BIGINT) AS sum_hits, " +
          "CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated " +
          "FROM d GROUP BY 1, 2 ORDER BY 1, 2"
      },
      "decontamination at n-gram granularity (the standard benchmark-leakage check): for every " +
        "held-out doc of the x19 split, how many of its distinct word-5-grams also occur " +
        "anywhere in train — x20 catches whole-doc leaks, this catches partial overlap. " +
        "Shingles travel as 60-bit hashes, so the join shuffles 8-byte keys; at 100 TB " +
        "pre-filter the held-out side with a Bloom filter of the train set (x17's shape) so " +
        "only probable collisions reach the exact join."
    ) { (s, dir) =>
      val sh = table(s, dir, "documents")
        .withColumn("split", splitCol)
        .select(
          col("doc_id"),
          col("source"),
          col("split"),
          explode(graftnative.api.shingleHash60(col("text"), 5)).as("sgl"))
      val tr = sh.filter(col("split") === "train")
        .select("sgl").distinct().withColumn("_hit", lit(1L))
      sh.filter(col("split") =!= "train")
        .join(tr, Seq("sgl"), "left")
        .groupBy("doc_id", "source", "split")
        .agg(count(lit(1)).as("n_sh"), sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
        .groupBy("source", "split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_sh").as("sum_shingles"),
          sum("n_hit").as("sum_hits"),
          sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("n_contaminated"))
        .orderBy("source", "split")
    },

    // ----- x75: Bloom-prefiltered decontamination with FP-rate audit -----
    Q(
      "x75_bloom_decontam",
      Some {
        val sh = XText.shinglesSql("ws", 5)
        val posU = bloomPosSql("sgl")
        s"WITH w AS (SELECT doc_id, source, $splitSql AS split, " +
          s"${XText.wordsSql("text")} AS ws FROM documents), " +
          s"sl AS (SELECT doc_id, source, split, $sh AS ss FROM w), " +
          "sh AS (SELECT doc_id, source, split, " +
          s"unnest(list_transform(ss, sgl -> ${h60Sql("sgl")})) AS sgl FROM sl), " +
          "tr AS (SELECT DISTINCT sgl FROM sh WHERE split = 'train'), " +
          s"bp AS (SELECT unnest($posU) AS pos FROM tr), " +
          "bw AS (SELECT pos // 63 AS wi, " +
          "bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS word FROM bp GROUP BY 1), " +
          "he AS (SELECT doc_id, source, split, sgl FROM sh WHERE split <> 'train'), " +
          s"cp AS (SELECT doc_id, source, split, sgl, unnest($posU) AS pos FROM he), " +
          "ch AS (SELECT doc_id, source, split, sgl, min(CASE WHEN word IS NULL THEN 0 " +
          "ELSE (word >> CAST(pos % 63 AS INT)) & 1 END) AS maybe " +
          "FROM cp LEFT JOIN bw ON bw.wi = pos // 63 GROUP BY 1, 2, 3, 4), " +
          "tj AS (SELECT ch.*, CASE WHEN tr.sgl IS NULL THEN 0 ELSE 1 END AS hit " +
          "FROM ch LEFT JOIN tr ON tr.sgl = ch.sgl), " +
          "d AS (SELECT doc_id, source, split, count(*) AS n_sh, " +
          "sum(maybe) AS n_maybe, sum(hit) AS n_hit FROM tj GROUP BY 1, 2, 3) " +
          "SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(n_sh) AS BIGINT) AS sum_shingles, " +
          "CAST(sum(n_maybe) AS BIGINT) AS bloom_hits, " +
          "CAST(sum(n_hit) AS BIGINT) AS true_hits, " +
          "CAST(sum(n_maybe) - sum(n_hit) AS BIGINT) AS false_pos, " +
          "CAST(sum(CASE WHEN n_maybe > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_bloom, " +
          "CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_true " +
          "FROM d GROUP BY 1, 2 ORDER BY 1, 2"
      },
      "the Bloom pre-filter x23's scale note promises, built and AUDITED: the train split's " +
        s"distinct word-5-gram hashes populate a bit-packed filter ($BloomWords longs, " +
        s"$BloomNh probes — corpus-size-INDEPENDENT broadcast state built by one map-side " +
        "combinable bit_or aggregation); every held-out shingle probes it, and the exact " +
        "train join runs alongside so the output splits bloom_hits into true_hits + " +
        "false_pos per (source, split) — the FP rate that decides whether the filter is " +
        "sized right. A Bloom filter never misses, so bloom_hits >= true_hits row-by-row " +
        "(spec-pinned). At 100 TB the probe is a zero-shuffle broadcast scan and only the " +
        "~12% of shingles that pass would reach the exact join — the build side shrinks " +
        "from |train| to |flagged|."
    ) { (s, dir) =>
      bloomDecontam(table(s, dir, "documents"))
        .groupBy("source", "split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_sh").as("sum_shingles"),
          sum("n_maybe").as("bloom_hits"),
          sum("n_hit").as("true_hits"),
          (sum("n_maybe") - sum("n_hit")).as("false_pos"),
          sum(when(col("n_maybe") > 0, 1L).otherwise(0L)).as("n_flagged_bloom"),
          sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("n_flagged_true"))
        .orderBy("source", "split")
    },

    // ----- x76: centroid classifier (classifier-based filtering skeleton) -----
    Q(
      "x76_centroid_classify",
      Some {
        s"WITH w AS (SELECT doc_id, lang, $splitSql AS split, " +
          s"${XText.wordsSql("text")} AS ws FROM documents), " +
          "tok AS (SELECT doc_id, lang, split, unnest(list_transform(" +
          s"generate_series(1, len(ws)), i -> ${h60Sql("ws[i]")})) AS h FROM w), " +
          "cw AS (SELECT lang AS clang, h, CAST(count(*) AS BIGINT) AS c " +
          "FROM tok WHERE split = 'train' GROUP BY 1, 2), " +
          "ct AS (SELECT clang, CAST(sum(c) AS BIGINT) AS tot FROM cw GROUP BY 1), " +
          "wt AS (SELECT cw.clang, cw.h, (cw.c * 1000000) // ct.tot AS w_e6 " +
          "FROM cw JOIN ct USING (clang)), " +
          "sc AS (SELECT t.doc_id, t.lang, wt.clang, CAST(sum(wt.w_e6) AS BIGINT) AS score_e6 " +
          "FROM tok t JOIN wt ON wt.h = t.h WHERE t.split <> 'train' GROUP BY 1, 2, 3), " +
          "pr AS (SELECT doc_id, lang, clang, score_e6, ROW_NUMBER() OVER " +
          "(PARTITION BY doc_id ORDER BY score_e6 DESC, clang) AS rn FROM sc) " +
          "SELECT lang, clang AS pred, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(score_e6) AS BIGINT) AS sum_score " +
          "FROM pr WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"
      },
      "classifier-based filtering's integer-exact skeleton: a centroid (Rocchio) " +
        "bag-of-words classifier trained on the train split (per-class e6 fixed-point " +
        "token frequencies — one count aggregation, no SGD) predicts the lang of every " +
        "held-out doc via a sparse prototype dot product; output is the confusion matrix " +
        "(true lang x predicted lang) with summed winning scores pinning the scores " +
        "themselves. On word-soup text accuracy sits at chance — the FIXTURE spec proves " +
        "the learning mechanics on disjoint vocabularies; this query pins the distributed " +
        "algebra. At 100 TB the model is a broadcastable |vocab| x |classes| weight " +
        "table built map-side; scoring is one 8-byte-hash join and a per-doc window — " +
        "training cost is ONE pass, the reason real pipelines run fasttext-shaped " +
        "(linear) filters over trillions of tokens."
    ) { (s, dir) =>
      centroidClassify(table(s, dir, "documents"), col("lang"))
        .groupBy(col("label").as("lang"), col("pred"))
        .agg(count(lit(1)).as("n_docs"), sum("score_e6").as("sum_score"))
        .orderBy("lang", "pred")
    },

    // ----- x24: int8 embedding quantization (floor quantizer, per-vector scale) -----
    Q(
      "x24_embed_quantize",
      Some(
        "WITH e AS (SELECT CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS v FROM embeddings), " +
          "a AS (SELECT label, v, list_aggregate(list_transform(v, x -> abs(x)), 'max') AS amax FROM e), " +
          "q AS (SELECT label, list_transform(v, x -> CAST(greatest(-127.0, least(127.0, " +
          "floor(x * 127.0 / amax))) AS BIGINT)) AS qv FROM a WHERE amax > 0), " +
          "st AS (SELECT label, list_aggregate(qv, 'sum') AS sq, " +
          "list_aggregate(list_transform(qv, x -> x * x), 'sum') AS sq2, " +
          "len(list_filter(qv, x -> abs(x) >= 127)) AS nsat FROM q) " +
          "SELECT label, count(*) AS n_vecs, CAST(sum(sq) AS BIGINT) AS sum_q, " +
          "CAST(sum(sq2) AS BIGINT) AS sum_q2, CAST(sum(nsat) AS BIGINT) AS n_saturated " +
          "FROM st GROUP BY label ORDER BY label"),
      "symmetric int8 quantization with a per-vector scale (amax/127), the format ANN indexes " +
        "and KV caches store embeddings in — 4x smaller than float32 before IVF/LSH bucketing. " +
        "floor() + clamp keeps every quantized weight integer-exact across engines (IEEE " +
        "double ops are bit-deterministic, so floor agrees); per-label moment sums + " +
        "saturation counts verify the codebook. Pure per-row array math — zero shuffle " +
        "before the 10-row label aggregate."
    ) { (s, dir) =>
      quantizeInt8(table(s, dir, "embeddings"))
        .withColumn("sq", aggregate(col("qv"), lit(0L), (a, x) => a + x))
        .withColumn("sq2", aggregate(col("qv"), lit(0L), (a, x) => a + x * x))
        .withColumn("nsat", size(filter(col("qv"), x => abs(x) >= 127)).cast("long"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          sum("sq").as("sum_q"),
          sum("sq2").as("sum_q2"),
          sum("nsat").as("n_saturated"))
        .orderBy("label")
    },

    // ----- x25: asymmetric n-gram containment (quote / subset detection) -----
    Q(
      "x25_containment",
      Some {
        val sh = XText.shinglesSql("ws", 4)
        s"WITH w AS (SELECT doc_id, ${XText.wordsSql("text")} AS ws FROM documents), " +
          s"sl AS (SELECT doc_id, $sh AS ss FROM w), " +
          s"shd AS (SELECT doc_id, unnest(list_transform(ss, sgl -> ${h60Sql("sgl")})) AS sgl FROM sl), " +
          "sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1), " +
          "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM shd a " +
          "JOIN shd b ON a.sgl = b.sgl AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
          "SELECT da AS doc_id_a, db AS doc_id_b, CAST(i AS BIGINT) AS n_inter, " +
          "CAST(sa.n AS BIGINT) AS n_a FROM inter JOIN sz sa ON sa.doc_id = da " +
          "WHERE 10 * i >= 8 * sa.n ORDER BY doc_id_a, doc_id_b"
      },
      "DIRECTIONAL near-dup: containment |A∩B| / |A| >= 0.8 over distinct word-4-gram sets " +
        "flags docs mostly contained in another (quotes, excerpts, boilerplate supersets) that " +
        "symmetric Jaccard misses when sizes differ. Integer threshold (10i >= 8·n_a) so no " +
        "float crosses the oracle; shingles join as 60-bit hashes. Same candidates-only caveat " +
        "as x03: at 100 TB run it on LSH candidate pairs, not the full self-join."
    ) { (s, dir) =>
      Dedup.containmentPairs(table(s, dir, "documents"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x26: data-mixture reweighting to a uniform language target -----
    Q(
      "x26_mix_weights",
      Some(
        s"WITH t AS (SELECT lang, len(${XText.wordsSql("text")}) AS n_tok FROM documents), " +
          "l AS (SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens " +
          "FROM t GROUP BY lang), " +
          "g AS (SELECT lang, n_docs, tokens, CAST(sum(tokens) OVER () AS BIGINT) AS total, " +
          "CAST(count(*) OVER () AS BIGINT) AS n_langs FROM l), " +
          "r AS (SELECT lang, n_docs, tokens, " +
          "least(1000000, (1000000 * (total // n_langs)) // tokens) AS rate_e6 FROM g) " +
          "SELECT lang, n_docs, tokens, CAST(rate_e6 AS BIGINT) AS rate_e6, " +
          "CAST((tokens * rate_e6) // 1000000 AS BIGINT) AS exp_tokens FROM r ORDER BY lang"),
      "mixture reweighting: per-language token counts -> the sampling rate that flattens the " +
        "mix to a uniform per-language token target (rate capped at 1, i.e. no upsampling), " +
        "plus the expected token yield. Fixed-point e6 arithmetic keeps rates integer-exact " +
        "(overflow envelope: 1e6·total < 2^63 holds to ~9e12 tokens — compute per-shard " +
        "beyond that). The whole-frame window runs on the ALREADY-AGGREGATED per-language " +
        "frame (rows = #languages), so the single-partition window is trivially small."
    ) { (s, dir) =>
      val t = table(s, dir, "documents")
        .select(col("lang"), size(XText.words(col("text"))).cast("long").as("n_tok"))
      val l = t.groupBy("lang").agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
      val g = l
        .withColumn("total", sum("tokens").over(Window.partitionBy()))
        .withColumn("n_langs", count(lit(1)).over(Window.partitionBy()))
        .withColumn(
          "rate_e6",
          least(lit(1000000L), expr("(1000000 * (total div n_langs)) div tokens")))
      g.select(
        col("lang"),
        col("n_docs"),
        col("tokens"),
        col("rate_e6"),
        expr("(tokens * rate_e6) div 1000000").as("exp_tokens"))
        .orderBy("lang")
    },

    // ----- x27: end-to-end corpus build (filter → dedup → split → stats) -----
    Q(
      "x27_corpus_build",
      Some {
        val rules = TextAnalysis.gopherRules.mkString(" AND ")
        s"WITH ${TextAnalysis.gopherSqlCtes("source, text")}, " +
          s"k AS (SELECT source, text, doc_id, nw FROM r WHERE $rules), " +
          s"d AS (SELECT source, doc_id, nw, ROW_NUMBER() OVER (PARTITION BY ${Dedup.normSql} " +
          "ORDER BY doc_id) AS rn FROM k), " +
          s"s AS (SELECT source, nw, $splitSql AS split FROM d WHERE rn = 1) " +
          "SELECT split, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS sum_tokens, " +
          "CAST(count(DISTINCT source) AS BIGINT) AS n_sources " +
          "FROM s GROUP BY split ORDER BY split"
      },
      "the pipeline a training corpus actually ships through, as ONE query: Gopher/C4 quality " +
        "rules (x16) → exact dedup on normalized text (x01) → deterministic hash split (x19) → " +
        "per-split doc/token/source counts. Composes to: per-row filter (no shuffle) → one " +
        "shuffle on the norm key → per-row split tag → small aggregate; at 100 TB the dedup " +
        "shuffle dominates and is the same single-shuffle shape as x01."
    ) { (s, dir) =>
      // project BEFORE the dedup shuffle: the annotated row carries the
      // tokenized words array and every rule metric — without this select
      // the window shuffle moves ~10x the bytes it needs.
      val kept = TextAnalysis.gopherAnnotate(table(s, dir, "documents"))
        .filter(TextAnalysis.gopherKeep)
        .select(col("source"), col("doc_id"), col("nw"), Dedup.normText(col("text")).as("_norm"))
      graft.lake.Lake.dedupKeepFirst(kept, Seq("_norm"), Seq("doc_id"))
        .withColumn("split", splitCol)
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("nw").as("sum_tokens"),
          countDistinct("source").as("n_sources"))
        .orderBy("split")
    },

    // ----- x34: exact-substring contamination coverage (Lee et al. 2022) -----
    Q(
      "x34_substring_coverage",
      Some {
        val k = SubstrK
        val gram = (0 until k).map(j => s"ws[p + $j]").mkString(" || ' ' || ")
        s"WITH w AS (SELECT doc_id, ${XText.wordsSql("text")} AS ws FROM documents), " +
          "d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw FROM w), " +
          s"occ AS (SELECT doc_id, p, ${h60Sql("g")} AS h FROM " +
          s"(SELECT doc_id, p, $gram AS g FROM " +
          s"(SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${k - 1})) AS p " +
          s"FROM w WHERE len(ws) >= $k))), " +
          "sh AS (SELECT h FROM occ GROUP BY h HAVING count(DISTINCT doc_id) >= 2), " +
          "so AS (SELECT occ.doc_id, occ.p FROM occ JOIN sh USING (h)), " +
          "lg AS (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS pp FROM so), " +
          "cv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared, " +
          s"CAST(sum(CASE WHEN pp IS NULL THEN $k ELSE least($k, p - pp) END) AS BIGINT) " +
          "AS covered FROM lg GROUP BY 1) " +
          "SELECT d.doc_id, d.nw, " +
          s"CAST(greatest(d.nw - ${k - 1}, 0) AS BIGINT) AS n_win, " +
          "CAST(coalesce(cv.n_shared, 0) AS BIGINT) AS n_shared, " +
          "CAST(coalesce(cv.covered, 0) AS BIGINT) AS covered, " +
          "CAST((1000000 * coalesce(cv.covered, 0)) // d.nw AS BIGINT) AS cov_e6 " +
          "FROM d LEFT JOIN cv ON cv.doc_id = d.doc_id ORDER BY d.doc_id"
      },
      s"exact-substring contamination coverage (Lee et al. 2022 'Deduplicating Training Data', " +
        s"hash-window form): every $SubstrK-token window that appears in >= 2 DISTINCT docs " +
        "marks its positions; per doc, the covered-token count is the INTERVAL UNION of those " +
        "fixed-length spans — computed with one lag() window per doc (spans sorted by start " +
        "and equal length, so union = sum of min(k, start-gap)), never an explode-distinct of " +
        "positions. cov_e6 near 1e6 means the doc is nearly all shared text. Scale: window " +
        "hashes shuffle as 8-byte keys for the >=2-docs test (one shuffle), occurrences " +
        "re-join on the same key, the union runs partitioned by doc_id — no global sort, " +
        "no suffix array; this is the Spark-native answer to the paper's suffix-array pass."
    ) { (s, dir) =>
      substringCoverage(table(s, dir, "documents")).orderBy("doc_id")
    },

    // ----- x43: duplicated-span removal (x34's enforcement half) -----
    Q(
      "x43_span_removal",
      Some {
        val k = SubstrK
        val gram = (0 until k).map(j => s"ws[p + $j]").mkString(" || ' ' || ")
        s"WITH w AS (SELECT doc_id, ${XText.wordsSql("text")} AS ws FROM documents), " +
          "d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw FROM w), " +
          s"occ AS (SELECT doc_id, p, ${h60Sql("g")} AS h FROM " +
          s"(SELECT doc_id, p, $gram AS g FROM " +
          s"(SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${k - 1})) AS p " +
          s"FROM w WHERE len(ws) >= $k))), " +
          "own AS (SELECT h, min(doc_id) AS owner FROM occ GROUP BY h " +
          "HAVING count(DISTINCT doc_id) >= 2), " +
          "rem AS (SELECT occ.doc_id, occ.p FROM occ JOIN own USING (h) " +
          "WHERE occ.doc_id <> own.owner), " +
          "pos AS (SELECT DISTINCT doc_id, p + j AS pos FROM " +
          s"(SELECT doc_id, p, unnest(generate_series(0, ${k - 1})) AS j FROM rem)), " +
          "tok AS (SELECT doc_id, i AS pos, ws[i] AS tk FROM " +
          "(SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM w)), " +
          "kept AS (SELECT tok.doc_id, tok.pos, tok.tk FROM tok " +
          "LEFT JOIN pos ON pos.doc_id = tok.doc_id AND pos.pos = tok.pos " +
          "WHERE pos.doc_id IS NULL), " +
          "ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
          "string_agg(tk, ' ' ORDER BY pos) AS text_clean FROM kept GROUP BY doc_id) " +
          "SELECT d.doc_id, d.nw, " +
          "CAST(d.nw - coalesce(ag.n_kept, 0) AS BIGINT) AS n_removed, " +
          "coalesce(ag.text_clean, '') AS text_clean " +
          "FROM d LEFT JOIN ag USING (doc_id) ORDER BY d.doc_id"
      },
      s"duplicated-span REMOVAL — the enforcement half of x34 (Lee et al. keep one copy of " +
        s"every duplicated substring): each shared $SubstrK-token window is owned by its " +
        "smallest doc_id; non-owning occurrences mark their positions and the doc is " +
        "re-assembled from surviving tokens in order. Scale shape: shared-ness and ownership " +
        "decided in ONE shuffle on 8-byte window hashes, the position explode is " +
        "proportional to the duplicated volume only, and reassembly is a per-doc sort of " +
        "kept tokens — no suffix array, no global sort, the distributed stand-in for the " +
        "paper's suffix-array dedup pass."
    ) { (s, dir) =>
      removeSharedSpans(table(s, dir, "documents")).orderBy("doc_id")
    },

    // ----- x36: overlapping document chunking (RAG / context-window prep) -----
    Q(
      "x36_chunk_docs",
      Some {
        val (wdw, st) = (ChunkW, ChunkS)
        s"WITH w AS (SELECT doc_id, ${XText.wordsSql("text")} AS ws FROM documents), " +
          "d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nw, " +
          s"1 + CASE WHEN len(ws) > $wdw THEN (len(ws) - $wdw + ${st - 1}) // $st ELSE 0 END " +
          "AS nc FROM w), " +
          "c AS (SELECT doc_id, ws, nw, unnest(generate_series(0, nc - 1)) AS i FROM d) " +
          s"SELECT doc_id, CAST(i AS BIGINT) AS chunk_id, " +
          s"CAST(1 + i * $st AS BIGINT) AS start_tok, " +
          s"CAST(least($wdw, nw - (1 + i * $st) + 1) AS BIGINT) AS n_tok, " +
          s"array_to_string(ws[(1 + i * $st):(least(CAST($wdw AS BIGINT), nw - (1 + i * $st) + 1) + i * $st)], ' ') " +
          "AS chunk_text FROM c ORDER BY doc_id, chunk_id"
      },
      s"RAG-style chunking: overlapping $ChunkW-token windows at stride $ChunkS (overlap " +
        s"${ChunkW - ChunkS}) with 1-based token offsets; the tail chunk shrinks, never " +
        "spills, and every token lands in at least one chunk. Pure per-row explode — no " +
        "shuffle at all before the presentation sort; at 100 TB chunking is scan-bound and " +
        "embarrassingly parallel, and emitting (doc_id, chunk_id, start_tok) makes chunks " +
        "re-joinable to their parent doc without string surgery."
    ) { (s, dir) =>
      chunkDocs(table(s, dir, "documents")).orderBy("doc_id", "chunk_id")
    },

    // ----- x37: corpus-version diff (snapshot compare by content hash) -----
    Q(
      "x37_corpus_diff",
      Some(
        "WITH a AS (SELECT doc_id, source, text FROM documents), " +
          // version B derived deterministically: every 17th doc removed,
          // every 13th edited, every 23rd re-added under a shifted id
          "b0 AS (SELECT doc_id, source, " +
          "CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text " +
          "FROM documents WHERE doc_id % 17 <> 0), " +
          "b AS (SELECT * FROM b0 UNION ALL " +
          "SELECT doc_id + 1000000 AS doc_id, source, text || ' new' AS text " +
          "FROM documents WHERE doc_id % 23 = 0), " +
          s"j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, " +
          "coalesce(a.source, b.source) AS source, " +
          "CASE WHEN a.doc_id IS NULL THEN 'added' " +
          "WHEN b.doc_id IS NULL THEN 'removed' " +
          "WHEN md5(a.text) <> md5(b.text) THEN 'changed' " +
          "ELSE 'unchanged' END AS status, " +
          s"CASE WHEN a.doc_id IS NULL THEN 0 ELSE len(${XText.wordsSql("a.text")}) END AS tok_a, " +
          s"CASE WHEN b.doc_id IS NULL THEN 0 ELSE len(${XText.wordsSql("b.text")}) END AS tok_b " +
          "FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id) " +
          "SELECT status, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(tok_a) AS BIGINT) AS tokens_a, CAST(sum(tok_b) AS BIGINT) AS tokens_b, " +
          "CAST(count(DISTINCT source) AS BIGINT) AS n_sources " +
          "FROM j GROUP BY status ORDER BY status"),
      "corpus VERSIONING: diff two corpus snapshots by (doc_id, content hash) via one full " +
        "outer join — added / removed / changed / unchanged doc and token accounting, the " +
        "audit a training pipeline runs before retraining on a refreshed crawl. Version B " +
        "is derived deterministically from the fixture (identical in both engines). Scale: " +
        "one shuffle per side on doc_id; at 100 TB diff per partition/source and compare " +
        "content via the stored md5 column instead of re-hashing text."
    ) { (s, dir) =>
      val a = table(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val b = corpusV2(a)
      corpusDiff(a, b)
        .groupBy("status")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("tok_a").as("tokens_a"),
          sum("tok_b").as("tokens_b"),
          countDistinct("source").as("n_sources"))
        .orderBy("status")
    },

    // ----- x49: shard-export manifest (order-independent checksums) -----
    Q(
      "x49_shard_manifest",
      Some(
        s"WITH t AS (SELECT doc_id, len(${XText.wordsSql("text")}) AS n_tok, " +
          s"${h60Sql("text")} AS th, $ordSql AS ord FROM documents), " +
          s"s AS (SELECT doc_id, n_tok, th, ord, ord % $PackShards AS shard FROM t), " +
          "c AS (SELECT shard, doc_id, n_tok, th, coalesce(sum(n_tok) OVER (" +
          "PARTITION BY shard ORDER BY ord, doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM s) " +
          s"SELECT CAST(shard AS BIGINT) AS shard, CAST(cum // $PackBudget AS BIGINT) AS pack, " +
          "CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens, " +
          "CAST(bit_xor(th) AS BIGINT) AS checksum " +
          "FROM c GROUP BY 1, 2 ORDER BY 1, 2"),
      "the shard-export manifest a trainer consumes: per (shard, pack), doc/token counts " +
        "plus an order-INDEPENDENT content checksum — bit_xor of the docs' 60-bit text " +
        "hashes (XOR commutes, so the value is partitioning- and arrival-order-proof and " +
        "overflow-free; one changed, missing or duplicated doc flips it). Verifying a " +
        "delivered shard takes this manifest plus one scan of the shard — the integrity " +
        "handshake between a data pipeline and a training run. Same partitioned-cumsum " +
        "pack assignment as x21 (no global sort)."
    ) { (s, dir) =>
      shardManifest(table(s, dir, "documents")).orderBy("shard", "pack")
    },

    // ----- x48: mergeable-sketch datasheet union (incremental maintenance) -----
    Q(
      "x48_sketch_union",
      Some(
        // exact side only — the sketch estimate is asserted via the
        // in-envelope boolean, pinned TRUE (the x40-bounds pattern)
        "WITH a AS (SELECT doc_id, source, text FROM documents), " +
          "b0 AS (SELECT doc_id, source, " +
          "CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text " +
          "FROM documents WHERE doc_id % 17 <> 0), " +
          "b AS (SELECT * FROM b0 UNION ALL " +
          "SELECT doc_id + 1000000 AS doc_id, source, text || ' new' AS text " +
          "FROM documents WHERE doc_id % 23 = 0), " +
          s"ka AS (SELECT source, ${XHash.h60Sql(Dedup.normSql)} AS k FROM a), " +
          s"kb AS (SELECT source, ${XHash.h60Sql(Dedup.normSql)} AS k FROM b), " +
          "na AS (SELECT source, CAST(count(*) AS BIGINT) AS n_a FROM ka GROUP BY source), " +
          "nb AS (SELECT source, CAST(count(*) AS BIGINT) AS n_b FROM kb GROUP BY source), " +
          "u AS (SELECT source, CAST(count(*) AS BIGINT) AS uniq_union FROM " +
          "(SELECT DISTINCT source, k FROM (SELECT * FROM ka UNION ALL SELECT * FROM kb)) " +
          "GROUP BY source) " +
          "SELECT na.source, na.n_a, nb.n_b, u.uniq_union, TRUE AS union_ok " +
          "FROM na JOIN nb ON nb.source = na.source JOIN u ON u.source = na.source " +
          "ORDER BY na.source"),
      "incremental datasheet maintenance with MERGEABLE sketches: each corpus version " +
        "keeps a per-source HLL sketch of its normalized-text keys (one aggregation, KB " +
        "per source), and the union datasheet is answered by hll_union of stored sketches " +
        "— never a rescan of history. The registered query unions the x37 fixture " +
        "versions, computes the exact union distincts both engines agree on, and asserts " +
        "the merged-sketch estimate lands within 5% (~3x the rsd of Spark's lgK=12 " +
        "DataSketches HLL); the oracle pins the boolean TRUE. At 100 TB this is the only " +
        "affordable way to keep corpus cards current across snapshots."
    ) { (s, dir) =>
      val a = table(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      sketchUnionDatasheet(a, corpusV2(a)).orderBy("source")
    },

    // ----- x38: per-source corpus datasheet (one-query audit card) -----
    Q(
      "x38_datasheet",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH w AS (SELECT doc_id, source, lang, $ws AS ws, " +
          s"${Dedup.normSql} AS norm FROM documents), " +
          "d AS (SELECT source, count(*) AS n_docs, CAST(sum(len(ws)) AS BIGINT) AS tokens, " +
          "CAST(count(DISTINCT norm) AS BIGINT) AS uniq_norm, " +
          "CAST(count(DISTINCT lang) AS BIGINT) AS langs, " +
          "CAST(min(len(ws)) AS BIGINT) AS min_tok, CAST(max(len(ws)) AS BIGINT) AS max_tok " +
          "FROM w GROUP BY source), " +
          "v AS (SELECT source, CAST(count(DISTINCT t) AS BIGINT) AS vocab FROM " +
          "(SELECT source, unnest(ws) AS t FROM w) GROUP BY source) " +
          "SELECT d.source, CAST(d.n_docs AS BIGINT) AS n_docs, d.tokens, " +
          "CAST(d.n_docs - d.uniq_norm AS BIGINT) AS dup_excess, v.vocab, d.langs, " +
          "d.min_tok, d.max_tok " +
          "FROM d JOIN v ON v.source = d.source ORDER BY d.source"
      },
      "the per-source corpus DATASHEET in one query: doc/token counts, exact-dup excess " +
        "(docs minus distinct normalized texts — x01's key), vocabulary size, language " +
        "count, token-length envelope. The audit card published alongside a training mix. " +
        "Two aggregations per source (doc-level rollup + exploded vocab count) — the vocab " +
        "count is the expensive one at 100 TB and is exactly a partial-aggregated " +
        "count-distinct on (source, token); swap in HLL sketches when approximate is enough."
    ) { (s, dir) =>
      datasheet(table(s, dir, "documents")).orderBy("source")
    },

    // ----- x40: approximate datasheet (HLL++, the 100 TB distincts) -----
    Q(
      "x40_datasheet_approx",
      None, // DuckDB's HLL differs — the exact twin x38 carries the oracle;
      // the spec bounds approx-vs-exact error at 3x the requested rsd
      "x38's audit card with HyperLogLog++ approximate count-distincts for the two " +
        "corpus-scale distincts (vocabulary, norm-dedup): HLL state is a few KB per source " +
        "and merges map-side, so the shuffle carries sketches instead of every distinct " +
        "token — the swap x38's doc promises at 100 TB. rows-only driver check by design."
    ) { (s, dir) =>
      datasheetApprox(table(s, dir, "documents")).orderBy("source")
    },

    // ----- x40 bounds: the HLL estimates, driver-checkable -----
    Q(
      "x40_datasheet_approx_bounds",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH w AS (SELECT doc_id, source, lang, $ws AS ws, " +
          s"${Dedup.normSql} AS norm FROM documents), " +
          "d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(len(ws)) AS BIGINT) AS tokens, " +
          "CAST(count(DISTINCT norm) AS BIGINT) AS uniq_norm FROM w GROUP BY source), " +
          "v AS (SELECT source, CAST(count(DISTINCT t) AS BIGINT) AS vocab FROM " +
          "(SELECT source, unnest(ws) AS t FROM w) GROUP BY source) " +
          // the oracle asserts the envelope HOLDS: it recomputes the exact
          // side and pins the booleans TRUE — if Spark's HLL drifted out of
          // 3x rsd, its FALSE would break the value hash
          "SELECT d.source, d.n_docs, d.tokens, d.uniq_norm, v.vocab, " +
          "TRUE AS norm_ok, TRUE AS vocab_ok " +
          "FROM d JOIN v ON v.source = d.source ORDER BY d.source"
      },
      "x40 made driver-checkable: exact per-source distincts beside booleans asserting the " +
        "HLL estimates sit inside the 3x-rsd envelope (floor 3 for tiny counts). The sketch " +
        "itself is engine-specific, but the INEQUALITY is cross-engine truth — the oracle " +
        "recomputes the exact side and expects every bound to hold, so x40 stops being the " +
        "family's only rows-only row."
    ) { (s, dir) =>
      datasheetApproxBounds(table(s, dir, "documents")).orderBy("source")
    },

    // ----- x35: temperature-weighted sampling schedule (UniMax-style) -----
    Q(
      "x35_temp_schedule",
      Some(
        s"WITH t AS (SELECT source, len(${XText.wordsSql("text")}) AS n_tok FROM documents), " +
          "l AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens " +
          "FROM t GROUP BY source), " +
          // sqrt is IEEE correctly-rounded in BOTH engines and ×1000/floor
          // is exact on these magnitudes, so s_i is integer-identical; all
          // later arithmetic is integer.
          "q AS (SELECT source, n_docs, tokens, " +
          "CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000) AS BIGINT) AS s_i FROM l), " +
          "g AS (SELECT source, n_docs, tokens, s_i, " +
          "CAST(sum(s_i) OVER () AS BIGINT) AS s_tot, " +
          "CAST(sum(tokens) OVER () AS BIGINT) AS budget FROM q), " +
          "w AS (SELECT source, n_docs, tokens, (1000000 * s_i) // s_tot AS w_e6, " +
          "budget FROM g) " +
          "SELECT source, CAST(n_docs AS BIGINT) AS n_docs, tokens, " +
          "CAST(w_e6 AS BIGINT) AS w_e6, " +
          "CAST((budget * w_e6) // 1000000 AS BIGINT) AS target_tokens, " +
          "CAST((budget * w_e6) // tokens AS BIGINT) AS epochs_e6 " +
          "FROM w ORDER BY source"),
      "temperature-weighted source mixing (tau = 0.5, the UniMax / multilingual-LM schedule): " +
        "per-source sampling weight ∝ tokens^tau, so over-represented sources are downweighted " +
        "sub-linearly instead of x26's hard uniform target. tau = 0.5 is computed via sqrt — " +
        "IEEE correctly-rounded in both engines — then immediately floored into fixed-point " +
        "integers (s_i = floor(sqrt(tokens)·1e3)) so every cross-engine comparison is exact; " +
        "epochs_e6 > 1e6 flags sources the schedule would repeat. The window runs on the " +
        "already-aggregated per-source frame (rows = #sources) — trivially small; the only " +
        "real shuffle is the per-source token rollup, identical at 100 TB to x26's."
    ) { (s, dir) =>
      val t = table(s, dir, "documents")
        .select(col("source"), size(XText.words(col("text"))).cast("long").as("n_tok"))
      val l = t.groupBy("source").agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
      val q = l.withColumn(
        "s_i",
        floor(sqrt(col("tokens").cast("double")) * 1000).cast("long"))
      val g = q
        .withColumn("s_tot", sum("s_i").over(Window.partitionBy()))
        .withColumn("budget", sum("tokens").over(Window.partitionBy()))
        .withColumn("w_e6", expr("(1000000 * s_i) div s_tot"))
      g.select(
        col("source"),
        col("n_docs"),
        col("tokens"),
        col("w_e6"),
        expr("(budget * w_e6) div 1000000").as("target_tokens"),
        expr("(budget * w_e6) div tokens").as("epochs_e6"))
        .orderBy("source")
    },

    // ----- x51: DSIR-style importance-weighted data selection -----
    Q(
      "x51_dsir_select",
      Some {
        val B = DsirBuckets
        val K = DsirTopK
        s"WITH w AS (SELECT doc_id, source, lang = 'en' AS is_t, " +
          s"${XText.wordsSql("text")} AS ws FROM documents), " +
          "u AS (SELECT doc_id, source, is_t, unnest(list_transform(" +
          s"generate_series(1, len(ws)), i -> ${h60Sql("ws[i]")})) AS h FROM w " +
          "UNION ALL SELECT doc_id, source, is_t, unnest(list_transform(" +
          s"generate_series(1, len(ws) - 1), i -> ${h60Sql("ws[i] || ' ' || ws[i + 1]")})) AS h " +
          "FROM w WHERE len(ws) >= 2), " +
          s"f AS (SELECT doc_id, source, is_t, h % $B AS b FROM u), " +
          "bc AS (SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct, " +
          "CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr FROM f GROUP BY b), " +
          "g AS (SELECT b, ct, cr, CAST(sum(ct) OVER () AS BIGINT) AS t_all, " +
          "CAST(sum(cr) OVER () AS BIGINT) AS r_all FROM bc), " +
          "wt AS (SELECT b, ((((ct + 1) * 1000000) // (cr + 1)) * " +
          s"(((r_all + $B) * 1000000) // (t_all + $B))) // 1000000 AS w_e6 FROM g), " +
          "ds AS (SELECT f.doc_id, f.source, CAST(count(*) AS BIGINT) AS n_feat, " +
          "CAST(sum(wt.w_e6) AS BIGINT) AS sw FROM f JOIN wt USING (b) " +
          "WHERE NOT f.is_t GROUP BY 1, 2), " +
          "sc AS (SELECT doc_id, source, sw // n_feat AS score_e6, " +
          "ROW_NUMBER() OVER (ORDER BY sw // n_feat DESC, doc_id) AS rk FROM ds) " +
          s"SELECT source, count(*) AS n_raw, " +
          s"CAST(sum(CASE WHEN rk <= $K THEN 1 ELSE 0 END) AS BIGINT) AS n_sel, " +
          s"CAST(sum(CASE WHEN rk <= $K THEN score_e6 ELSE 0 END) AS BIGINT) AS sel_score_sum " +
          "FROM sc GROUP BY source ORDER BY source"
      },
      "DSIR-shaped data selection (Xie et al. 2023): treat the English subset as the TARGET " +
        "domain, every other doc as RAW, fit hashed unigram+bigram bucket distributions for " +
        s"both in one scan, score raw docs by mean per-feature target/raw ratio and keep the top $DsirTopK " +
        "(ranked by score then doc_id, so selection is reproducible). The log is dropped for " +
        "integer-exact cross-engine scores (x33/x44 convention, documented on dsirWeights). " +
        "The global top-k rank here is the oracle-exact form (rows = raw DOCS, already " +
        "aggregated); at 100 TB swap it for a sampled score threshold — the x22/x33 pattern — " +
        "and keep everything per-partition."
    ) { (s, dir) =>
      val d = dsirWeights(table(s, dir, "documents"), col("lang") === "en")
      val byScore = Window.orderBy(col("score_e6").desc, col("doc_id"))
      d.withColumn("rk", row_number().over(byScore))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_raw"),
          sum(when(col("rk") <= DsirTopK, 1L).otherwise(0L)).as("n_sel"),
          sum(when(col("rk") <= DsirTopK, col("score_e6")).otherwise(0L)).as("sel_score_sum"))
        .orderBy("source")
    },

    // ----- x57: the FULL corpus pipeline in one plan (FineWeb-shaped) -----
    Q(
      "x57_pipeline_full",
      Some {
        val rules = TextAnalysis.gopherRules.mkString(" AND ")
        val k = SubstrK
        val B = DsirBuckets
        val K = DsirTopK
        val gram = (0 until k).map(j => s"ws[p + $j]").mkString(" || ' ' || ")
        s"WITH ${TextAnalysis.gopherSqlCtes("source, lang, text")}, " +
          s"kq AS (SELECT doc_id, source, lang, text FROM r WHERE $rules), " +
          "dd AS (SELECT doc_id, source, lang, text FROM " +
          s"(SELECT kq.*, ROW_NUMBER() OVER (PARTITION BY ${Dedup.normSql} " +
          "ORDER BY doc_id) AS rn FROM kq) WHERE rn = 1), " +
          // -- span removal (x43 chain) over the deduped survivors
          s"sw AS (SELECT doc_id, ${XText.wordsSql("text")} AS ws FROM dd), " +
          "sd AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw FROM sw), " +
          s"socc AS (SELECT doc_id, p, ${h60Sql("g")} AS h FROM " +
          s"(SELECT doc_id, p, $gram AS g FROM " +
          s"(SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${k - 1})) AS p " +
          s"FROM sw WHERE len(ws) >= $k))), " +
          "sown AS (SELECT h, min(doc_id) AS owner FROM socc GROUP BY h " +
          "HAVING count(DISTINCT doc_id) >= 2), " +
          "srem AS (SELECT socc.doc_id, socc.p FROM socc JOIN sown USING (h) " +
          "WHERE socc.doc_id <> sown.owner), " +
          "spos AS (SELECT DISTINCT doc_id, p + j AS pos FROM " +
          s"(SELECT doc_id, p, unnest(generate_series(0, ${k - 1})) AS j FROM srem)), " +
          "stok AS (SELECT doc_id, i AS pos, ws[i] AS tk FROM " +
          "(SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM sw)), " +
          "skept AS (SELECT stok.doc_id, stok.pos, stok.tk FROM stok " +
          "LEFT JOIN spos ON spos.doc_id = stok.doc_id AND spos.pos = stok.pos " +
          "WHERE spos.doc_id IS NULL), " +
          "sag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
          "string_agg(tk, ' ' ORDER BY pos) AS text_clean FROM skept GROUP BY doc_id), " +
          "cl AS (SELECT dd.doc_id, dd.source, dd.lang, " +
          "coalesce(sag.text_clean, '') AS text, " +
          "CAST(sd.nw - coalesce(sag.n_kept, 0) AS BIGINT) AS n_removed " +
          "FROM dd JOIN sd USING (doc_id) LEFT JOIN sag USING (doc_id)), " +
          "ne AS (SELECT * FROM cl WHERE text <> ''), " +
          // -- DSIR selection (x51 chain, exact-rank oracle form) over the cleaned corpus
          s"dw AS (SELECT doc_id, source, lang = 'en' AS is_t, " +
          s"${XText.wordsSql("text")} AS ws FROM ne), " +
          "du AS (SELECT doc_id, is_t, unnest(list_transform(" +
          s"generate_series(1, len(ws)), i -> ${h60Sql("ws[i]")})) AS h FROM dw " +
          "UNION ALL SELECT doc_id, is_t, unnest(list_transform(" +
          s"generate_series(1, len(ws) - 1), i -> ${h60Sql("ws[i] || ' ' || ws[i + 1]")})) AS h " +
          "FROM dw WHERE len(ws) >= 2), " +
          s"dfe AS (SELECT doc_id, is_t, h % $B AS b FROM du), " +
          "dbc AS (SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct, " +
          "CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr FROM dfe GROUP BY b), " +
          "dg AS (SELECT b, ct, cr, CAST(sum(ct) OVER () AS BIGINT) AS t_all, " +
          "CAST(sum(cr) OVER () AS BIGINT) AS r_all FROM dbc), " +
          "dwt AS (SELECT b, ((((ct + 1) * 1000000) // (cr + 1)) * " +
          s"(((r_all + $B) * 1000000) // (t_all + $B))) // 1000000 AS w_e6 FROM dg), " +
          "dds AS (SELECT dfe.doc_id, CAST(count(*) AS BIGINT) AS n_feat, " +
          "CAST(sum(dwt.w_e6) AS BIGINT) AS sw2 FROM dfe JOIN dwt USING (b) " +
          "WHERE NOT dfe.is_t GROUP BY 1), " +
          "dsc AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sw2 // n_feat DESC, doc_id) " +
          "AS rk FROM dds), " +
          s"sel AS (SELECT doc_id FROM dsc WHERE rk <= $K), " +
          "fin AS (SELECT * FROM ne WHERE lang = 'en' " +
          "UNION ALL SELECT ne.* FROM ne JOIN sel USING (doc_id)), " +
          s"st AS (SELECT source, n_removed, " +
          s"CAST(len(${XText.wordsSql("text")}) AS BIGINT) AS n_tok, $splitSql AS split FROM fin) " +
          "SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens, " +
          "CAST(sum(n_removed) AS BIGINT) AS removed_tokens, " +
          "CAST(count(DISTINCT source) AS BIGINT) AS n_sources " +
          "FROM st GROUP BY split ORDER BY split"
      },
      "the FULL corpus-prep pipeline a real user ships, as ONE Catalyst plan: Gopher/C4 " +
        "quality rules (x16) → exact dedup on normalized text (x01) → duplicated-span " +
        "removal (x43, emptied docs dropped) → DSIR importance selection toward the English " +
        s"subset (x51: every target-lang doc kept, top-$DsirTopK raw docs by score) → " +
        "deterministic 90/5/5 split (x19) → per-split doc/token/removed/source stats. The " +
        "CLI's --strict/--despan/--dsir stages compose exactly this; registering it pins the " +
        "inter-stage contracts (despan before scoring, selection after dedup) cross-engine. " +
        "Scale shape: per-row quality filter → one norm-key shuffle → one window-hash " +
        "shuffle + bounded position explode → one B-bucket broadcast + per-doc score " +
        "aggregation → per-row split tag → tiny rollup. The global DSIR rank is the " +
        "oracle-exact pin; pipelineThreshold is the registered scale twin (battery: " +
        "x57_pipeline_threshold) — the SAME pipeline with dsirSelectThreshold's " +
        "sampled-quantile selection, zero unpartitioned ranking windows (spec-pinned)."
    ) { (s, dir) =>
      val corpus = pipelineCorpus(table(s, dir, "documents"))
      val ranked = dsirWeights(corpus, col("lang") === "en")
        .withColumn("rk",
          row_number().over(Window.orderBy(col("score_e6").desc, col("doc_id"))))
        .filter(col("rk") <= DsirTopK)
        .select("doc_id")
      val selected = corpus.filter(col("lang") === "en")
        .unionByName(corpus.filter(col("lang") =!= "en").join(ranked, "doc_id"))
      pipelineRollup(selected)
    },

    // ----- x57 scale twin: the SAME pipeline, threshold selection, NO global window -----
    Q(
      "x57_pipeline_threshold",
      Some {
        val rules = TextAnalysis.gopherRules.mkString(" AND ")
        val k = SubstrK
        val B = DsirBuckets
        val gram = (0 until k).map(j => s"ws[p + $j]").mkString(" || ' ' || ")
        s"WITH ${TextAnalysis.gopherSqlCtes("source, lang, text")}, " +
          s"kq AS (SELECT doc_id, source, lang, text FROM r WHERE $rules), " +
          "dd AS (SELECT doc_id, source, lang, text FROM " +
          s"(SELECT kq.*, ROW_NUMBER() OVER (PARTITION BY ${Dedup.normSql} " +
          "ORDER BY doc_id) AS rn FROM kq) WHERE rn = 1), " +
          s"sw AS (SELECT doc_id, ${XText.wordsSql("text")} AS ws FROM dd), " +
          "sd AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw FROM sw), " +
          s"socc AS (SELECT doc_id, p, ${h60Sql("g")} AS h FROM " +
          s"(SELECT doc_id, p, $gram AS g FROM " +
          s"(SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${k - 1})) AS p " +
          s"FROM sw WHERE len(ws) >= $k))), " +
          "sown AS (SELECT h, min(doc_id) AS owner FROM socc GROUP BY h " +
          "HAVING count(DISTINCT doc_id) >= 2), " +
          "srem AS (SELECT socc.doc_id, socc.p FROM socc JOIN sown USING (h) " +
          "WHERE socc.doc_id <> sown.owner), " +
          "spos AS (SELECT DISTINCT doc_id, p + j AS pos FROM " +
          s"(SELECT doc_id, p, unnest(generate_series(0, ${k - 1})) AS j FROM srem)), " +
          "stok AS (SELECT doc_id, i AS pos, ws[i] AS tk FROM " +
          "(SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM sw)), " +
          "skept AS (SELECT stok.doc_id, stok.pos, stok.tk FROM stok " +
          "LEFT JOIN spos ON spos.doc_id = stok.doc_id AND spos.pos = stok.pos " +
          "WHERE spos.doc_id IS NULL), " +
          "sag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
          "string_agg(tk, ' ' ORDER BY pos) AS text_clean FROM skept GROUP BY doc_id), " +
          "cl AS (SELECT dd.doc_id, dd.source, dd.lang, " +
          "coalesce(sag.text_clean, '') AS text, " +
          "CAST(sd.nw - coalesce(sag.n_kept, 0) AS BIGINT) AS n_removed " +
          "FROM dd JOIN sd USING (doc_id) LEFT JOIN sag USING (doc_id)), " +
          "ne AS (SELECT * FROM cl WHERE text <> ''), " +
          s"dw AS (SELECT doc_id, source, lang = 'en' AS is_t, " +
          s"${XText.wordsSql("text")} AS ws FROM ne), " +
          "du AS (SELECT doc_id, is_t, unnest(list_transform(" +
          s"generate_series(1, len(ws)), i -> ${h60Sql("ws[i]")})) AS h FROM dw " +
          "UNION ALL SELECT doc_id, is_t, unnest(list_transform(" +
          s"generate_series(1, len(ws) - 1), i -> ${h60Sql("ws[i] || ' ' || ws[i + 1]")})) AS h " +
          "FROM dw WHERE len(ws) >= 2), " +
          s"dfe AS (SELECT doc_id, is_t, h % $B AS b FROM du), " +
          "dbc AS (SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct, " +
          "CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr FROM dfe GROUP BY b), " +
          "dg AS (SELECT b, ct, cr, CAST(sum(ct) OVER () AS BIGINT) AS t_all, " +
          "CAST(sum(cr) OVER () AS BIGINT) AS r_all FROM dbc), " +
          "dwt AS (SELECT b, ((((ct + 1) * 1000000) // (cr + 1)) * " +
          s"(((r_all + $B) * 1000000) // (t_all + $B))) // 1000000 AS w_e6 FROM dg), " +
          "dds AS (SELECT dfe.doc_id, CAST(count(*) AS BIGINT) AS n_feat, " +
          "CAST(sum(dwt.w_e6) AS BIGINT) AS sw2 FROM dfe JOIN dwt USING (b) " +
          "WHERE NOT dfe.is_t GROUP BY 1), " +
          // -- threshold selection: exact percentile of the h60-sampled
          // -- scores (quantile_cont == Spark `percentile`, both linear
          // -- interpolation over integers), NO rank anywhere
          s"samp AS (SELECT sw2 // n_feat AS score_e6 FROM dds " +
          s"WHERE ${h60Sql("CAST(doc_id AS VARCHAR)")} % 1000 < 500), " +
          "thr AS (SELECT coalesce(" +
          "(SELECT quantile_cont(CAST(score_e6 AS DOUBLE), 0.8) FROM samp), " +
          "(SELECT quantile_cont(CAST(sw2 // n_feat AS DOUBLE), 0.8) FROM dds), " +
          "1.7976931348623157e308) AS t), " +
          "sel AS (SELECT doc_id FROM dds " +
          "WHERE CAST(sw2 // n_feat AS DOUBLE) >= (SELECT t FROM thr)), " +
          "fin AS (SELECT * FROM ne WHERE lang = 'en' " +
          "UNION ALL SELECT ne.* FROM ne JOIN sel USING (doc_id)), " +
          s"st AS (SELECT source, n_removed, " +
          s"CAST(len(${XText.wordsSql("text")}) AS BIGINT) AS n_tok, $splitSql AS split FROM fin) " +
          "SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens, " +
          "CAST(sum(n_removed) AS BIGINT) AS removed_tokens, " +
          "CAST(count(DISTINCT source) AS BIGINT) AS n_sources " +
          "FROM st GROUP BY split ORDER BY split"
      },
      "x57's SCALE TWIN, now oracle-keyed: the SAME one-plan pipeline (quality → exact " +
        "dedup → span removal → DSIR selection → split → rollup) with the selection " +
        "swapped from the global top-k rank to a sampled-quantile threshold — ZERO " +
        "ranking windows anywhere, partitioned or global (the registered x57 query pins " +
        "the exact-rank oracle form; THIS query pins the window-free plan a 100 TB run " +
        "ships). The threshold here is the EXACT percentile of the h60-hash-sampled " +
        "scores so DuckDB reproduces it bit-for-bit (quantile_cont and Spark's " +
        "percentile share the linear-interpolation definition; inputs are integers, so " +
        "the double agrees bitwise); the library default swaps in approx_percentile " +
        "(GK sketch, bounded partition memory) with the identical plan shape — the " +
        "exactQuantile knob trades only the aggregate's memory envelope, never the " +
        "topology. Scale: quality filter per-row → one norm-key shuffle → bounded span " +
        "explode → B-bucket broadcast scoring → ONE single-row quantile aggregate " +
        "broadcast back → per-row compare → tiny rollup."
    ) { (s, dir) =>
      pipelineThreshold(table(s, dir, "documents"), exactQuantile = true)
    },

    // ----- x66: pack hygiene (duplicates inside one context window) -----
    Q(
      "x66_pack_hygiene",
      Some(
        // the synthetic corpus has no in-pack dups, so (x47's augmentation
        // pattern) both engines add a deterministic "mirror" dup of every
        // 31st doc that REUSES ITS ORIGINAL'S ord — the two rows pack
        // adjacently, so dup_excess is exercised by real nonzero values
        s"WITH aug AS (SELECT doc_id, source, text, $ordSql AS ord FROM documents " +
          s"UNION ALL SELECT doc_id + 2000000, 'mirror', text, $ordSql AS ord " +
          "FROM documents WHERE doc_id % 31 = 0), " +
          s"t AS (SELECT doc_id, source, len(${XText.wordsSql("text")}) AS n_tok, " +
          s"ord, ${h60Sql(Dedup.normSql)} AS key FROM aug), " +
          s"s AS (SELECT doc_id, source, key, n_tok, ord, ord % $PackShards AS shard FROM t), " +
          "c AS (SELECT doc_id, source, key, shard, " +
          "coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY ord, doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM s), " +
          s"p AS (SELECT doc_id, source, key, shard, cum // $PackBudget AS pack FROM c) " +
          "SELECT CAST(shard AS BIGINT) AS shard, CAST(pack AS BIGINT) AS pack, " +
          "CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, " +
          "CAST(count(*) - count(DISTINCT key) AS BIGINT) AS dup_excess " +
          "FROM p GROUP BY 1, 2 ORDER BY 1, 2"),
      "pack hygiene: per (shard, pack) — the x21 context windows a trainer actually " +
        "concatenates — the doc count, source diversity, and DUPLICATE EXCESS (docs whose " +
        "normalized text collides with another doc in the SAME pack). Near-identical docs " +
        "inside one context window waste the whole window's compute and maximize " +
        "memorization; dedup (x01/x14) prevents exact repeats corpus-wide, but hash-order " +
        "packing can still co-locate near-misses — this is the audit that catches it. " +
        "Fixture: a deterministic 'mirror' dup of every 31st doc shares its original's " +
        "ord (both engines identically), so the dup lands in the same pack and the " +
        "dup_excess column carries nonzero values the hash compare is sensitive to. " +
        "One pass: the packing cumsum (partitioned per shard, no global sort) joined to " +
        "per-row norm keys, then a keyed rollup."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val aug = docs
        .select(col("doc_id"), col("source"), col("text"), ordCol.as("ord"))
        .unionByName(docs.filter(col("doc_id") % 31 === 0).select(
          (col("doc_id") + 2000000L).as("doc_id"),
          lit("mirror").as("source"), col("text"), ordCol.as("ord")))
      packHygieneOrd(aug).orderBy("shard", "pack")
    },

    // ----- x69: pack repair (the remediation x66's audit calls for) -----
    Q(
      "x69_pack_repair",
      Some(
        // same mirror-dup fixture as x66 (so there is something to repair)
        s"WITH aug AS (SELECT doc_id, text, $ordSql AS ord FROM documents " +
          s"UNION ALL SELECT doc_id + 2000000, text, $ordSql AS ord " +
          "FROM documents WHERE doc_id % 31 = 0), " +
          s"t AS (SELECT doc_id, len(${XText.wordsSql("text")}) AS n_tok, ord, " +
          s"${h60Sql(Dedup.normSql)} AS key FROM aug), " +
          s"s AS (SELECT doc_id, key, n_tok, ord, ord % $PackShards AS shard FROM t), " +
          "c AS (SELECT doc_id, key, n_tok, ord, shard, " +
          "coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY ord, doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM s), " +
          s"p AS (SELECT doc_id, key, n_tok, ord, shard, cum // $PackBudget AS pack FROM c), " +
          "rkx AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY shard, pack, key " +
          "ORDER BY ord, doc_id) AS rk FROM p), " +
          "dirty AS (SELECT DISTINCT shard, pack FROM rkx WHERE rk >= 2), " +
          "kcnt AS (SELECT key, count(*) AS kc FROM p GROUP BY key), " +
          "movers AS (SELECT doc_id AS m_id, key AS m_key, n_tok, shard AS m_shard, " +
          "pack AS m_pack, ROW_NUMBER() OVER (PARTITION BY n_tok " +
          "ORDER BY shard, pack, ord, doc_id) AS mi FROM rkx WHERE rk >= 2), " +
          "cands0 AS (SELECT r.doc_id, r.n_tok, r.shard, r.pack, r.ord FROM rkx r " +
          "JOIN kcnt k USING (key) LEFT JOIN dirty d ON d.shard = r.shard AND d.pack = r.pack " +
          "WHERE r.rk = 1 AND k.kc = 1 AND d.shard IS NULL), " +
          "cands AS (SELECT doc_id AS c_id, n_tok, shard AS c_shard, pack AS c_pack, " +
          "ROW_NUMBER() OVER (PARTITION BY n_tok ORDER BY shard, pack, ord, doc_id) AS cj " +
          "FROM cands0), " +
          "paired AS (SELECT m.m_id, m.m_key, m.m_shard, m.m_pack, c.c_id, c.c_shard, " +
          "c.c_pack FROM movers m JOIN cands c ON c.n_tok = m.n_tok AND c.cj = m.mi), " +
          "ok1 AS (SELECT pr.* FROM paired pr LEFT JOIN p x ON x.shard = pr.c_shard " +
          "AND x.pack = pr.c_pack AND x.key = pr.m_key WHERE x.doc_id IS NULL), " +
          "ok AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY m_key, c_shard, " +
          "c_pack ORDER BY m_id) AS g FROM ok1) WHERE g = 1), " +
          "rep AS (SELECT p.doc_id, p.key, p.n_tok, " +
          "coalesce(om.c_shard, oc.m_shard, p.shard) AS shard, " +
          "coalesce(om.c_pack, oc.m_pack, p.pack) AS pack, " +
          "(om.m_id IS NOT NULL OR oc.c_id IS NOT NULL) AS moved " +
          "FROM p LEFT JOIN ok om ON om.m_id = p.doc_id " +
          "LEFT JOIN ok oc ON oc.c_id = p.doc_id), " +
          "db AS (SELECT shard, CAST(sum(d) AS BIGINT) AS dup_before FROM " +
          "(SELECT shard, pack, count(*) - count(DISTINCT key) AS d FROM p GROUP BY 1, 2) " +
          "GROUP BY shard), " +
          "da AS (SELECT shard, CAST(sum(d) AS BIGINT) AS dup_after FROM " +
          "(SELECT shard, pack, count(*) - count(DISTINCT key) AS d FROM rep GROUP BY 1, 2) " +
          "GROUP BY shard), " +
          "base AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(n_tok) AS BIGINT) AS sum_tokens, " +
          "CAST(sum(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT) AS n_swapped " +
          "FROM rep GROUP BY shard) " +
          "SELECT CAST(b.shard AS BIGINT) AS shard, b.n_docs, b.sum_tokens, b.n_swapped, " +
          "db.dup_before, da.dup_after FROM base b " +
          "JOIN db ON db.shard = b.shard JOIN da ON da.shard = b.shard ORDER BY 1"),
      "pack repair — the remediation for x66's audit: within-pack duplicate-key docs " +
        "(occurrence 2+ in packing order) swap places with a same-n_tok doc whose key is " +
        "globally unique and whose pack is collision-free, under guards that no target " +
        "pack gains a colliding key; equal token counts mean every pack's doc count and " +
        "token budget are preserved EXACTLY — no re-packing. Per shard: docs, tokens, " +
        "docs relocated by swaps, and the within-pack duplicate excess before/after " +
        "(after → 0 when candidates exist; unmatched movers surface as residual). Same " +
        "mirror fixture as x66 so the repair is exercised by real collisions. All ranks " +
        "partition by n_tok or pack — no global sort; mover/candidate frames are " +
        "duplicate-bounded and broadcast back onto the corpus."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val aug = docs.select(col("doc_id"), col("text"), ordCol.as("ord"))
        .unionByName(docs.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"), ordCol.as("ord")))
      val keyed = aug.select(col("doc_id"), XHash.h60(Dedup.normText(col("text"))).as("key"))
      val pBefore = packAssignmentsOrd(aug).join(keyed, "doc_id")
      val rep = packRepair(aug)
      def shardDup(df: DataFrame, name: String): DataFrame = df
        .groupBy("shard", "pack")
        .agg((count(lit(1)) - countDistinct("key")).as("d"))
        .groupBy("shard").agg(sum("d").as(name))
      val base = rep.groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        sum(when(col("moved"), 1L).otherwise(0L)).as("n_swapped"))
      base.join(shardDup(pBefore, "dup_before"), "shard")
        .join(shardDup(rep, "dup_after"), "shard")
        .select("shard", "n_docs", "sum_tokens", "n_swapped", "dup_before", "dup_after")
        .orderBy("shard")
    },

    // ----- x73: train→eval split leakage audit (window-level) -----
    Q(
      "x73_split_leakage",
      Some {
        val k = SubstrK
        val gram = (0 until k).map(j => s"ws[p + $j]").mkString(" || ' ' || ")
        s"WITH w AS (SELECT doc_id, $splitSql AS split, ${XText.wordsSql("text")} AS ws " +
          "FROM documents), " +
          s"occ AS (SELECT doc_id, split, ${h60Sql("g")} AS h FROM " +
          s"(SELECT doc_id, split, $gram AS g FROM " +
          s"(SELECT doc_id, split, ws, unnest(generate_series(1, len(ws) - ${k - 1})) AS p " +
          "FROM w))), " +
          "tr AS (SELECT DISTINCT h FROM occ WHERE split = 'train'), " +
          "ev AS (SELECT o.split, o.h, (tr.h IS NOT NULL) AS leaked FROM occ o " +
          "LEFT JOIN tr ON tr.h = o.h WHERE o.split <> 'train') " +
          "SELECT split, CAST(count(*) AS BIGINT) AS n_windows, " +
          "CAST(count(DISTINCT h) AS BIGINT) AS n_distinct, " +
          "CAST(sum(CASE WHEN leaked THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked, " +
          "CAST(count(DISTINCT CASE WHEN leaked THEN h END) AS BIGINT) AS n_leaked_distinct, " +
          "CAST((1000000 * sum(CASE WHEN leaked THEN 1 ELSE 0 END)) // count(*) AS BIGINT) " +
          "AS leak_e6 FROM ev GROUP BY split ORDER BY split"
      },
      s"train→eval leakage audit at the $SubstrK-token-window level — the measurement " +
        "behind every decontamination decision (x64 removes known benchmark spans; this " +
        "measures how much EVAL text the train split can still complete verbatim): for " +
        "val and test, total windows, distinct windows, windows (total and distinct) " +
        "also present anywhere in train, and the occurrence leak rate (e6 fixed-point). " +
        "One windowHash60 pass over the corpus, a distinct on the train side, one 8-byte " +
        "hash join — at 100 TB the train window set shuffles once and the join is the " +
        "same shape as x43's span matcher."
    ) { (s, dir) =>
      splitLeakage(table(s, dir, "documents"), splitCol).orderBy("split")
    },

    // ----- x86: split repair (the remediation x73's audit calls for) -----
    Q(
      "x86_split_repair",
      Some {
        val k = SubstrK
        val gram = (0 until k).map(j => s"ws[p + $j]").mkString(" || ' ' || ")
        s"WITH w AS (SELECT doc_id, $splitSql AS split, ${XText.wordsSql("text")} AS ws " +
          "FROM documents), " +
          s"occ AS (SELECT doc_id, split, ${h60Sql("g")} AS h FROM " +
          s"(SELECT doc_id, split, $gram AS g FROM " +
          s"(SELECT doc_id, split, ws, unnest(generate_series(1, len(ws) - ${k - 1})) AS p " +
          "FROM w))), " +
          "tr AS (SELECT DISTINCT h FROM occ WHERE split = 'train'), " +
          "pd AS (SELECT o.doc_id, o.split, CAST(count(*) AS BIGINT) AS nw, " +
          "CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl " +
          "FROM occ o LEFT JOIN tr ON tr.h = o.h WHERE o.split <> 'train' " +
          "GROUP BY 1, 2), " +
          "ad AS (SELECT w.doc_id, w.split, coalesce(pd.nw, 0) AS nw, " +
          "coalesce(pd.nl, 0) AS nl FROM w LEFT JOIN pd " +
          "ON pd.doc_id = w.doc_id AND pd.split = w.split WHERE w.split <> 'train') " +
          "SELECT split, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(CASE WHEN nl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined, " +
          "CAST(sum(CASE WHEN nl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
          "CAST(sum(nw) AS BIGINT) AS win_before, " +
          "CAST(sum(nl) AS BIGINT) AS leak_before, " +
          "CAST(CASE WHEN sum(nw) = 0 THEN 0 ELSE (1000000 * sum(nl)) // sum(nw) END " +
          "AS BIGINT) AS leak_e6_before, " +
          "CAST(sum(CASE WHEN nl = 0 THEN nw ELSE 0 END) AS BIGINT) AS win_after, " +
          "CAST(sum(CASE WHEN nl = 0 THEN nl ELSE 0 END) AS BIGINT) AS leak_after, " +
          "CAST(CASE WHEN sum(CASE WHEN nl = 0 THEN nw ELSE 0 END) = 0 THEN 0 " +
          "ELSE (1000000 * sum(CASE WHEN nl = 0 THEN nl ELSE 0 END)) // " +
          "sum(CASE WHEN nl = 0 THEN nw ELSE 0 END) END AS BIGINT) AS leak_e6_after " +
          "FROM ad GROUP BY split ORDER BY split"
      },
      s"split repair — the remediation for x73's leakage audit (the x69 audit→repair " +
        s"pattern): every val/test doc with at least one $SubstrK-token window present " +
        "verbatim in train is quarantined out of eval; train is untouched, so one pass " +
        "suffices (moving leaked docs INTO train would enlarge it and re-leak into the " +
        "survivors). Per split: docs before/quarantined/kept, window and leaked-window " +
        "totals before, and the audit RE-RUN on the kept docs (leak_after recomputed " +
        "against the same train window set — lands at 0 by construction, verified not " +
        "assumed). Same shuffle shape as x73 plus one per-doc rollup; at 100 TB the " +
        "quarantine list is the only new artifact and it ships as doc_ids."
    ) { (s, dir) =>
      splitRepair(table(s, dir, "documents"), splitCol).orderBy("split")
    },

    // ----- x89: decontamination-method agreement (exact vs ngram vs window) -----
    Q(
      "x89_decontam_agreement",
      Some {
        val k = SubstrK
        val gram = (0 until k).map(j => s"ws[p + $j]").mkString(" || ' ' || ")
        val sh = XText.shinglesSql("ws", 5)
        // x47's mirror fixture: re-hosted every-31st doc lands in its OWN
        // hash split (doc_id + 2000000), so exact cross-split dups exist
        // and the 'exact' column is exercised by data (the x66 lesson)
        "WITH aug AS (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 31 = 0), " +
          s"w AS (SELECT doc_id, $splitSql AS split, text, ${XText.wordsSql("text")} AS ws " +
          "FROM aug), " +
          s"ek AS (SELECT doc_id, split, ${h60Sql(Dedup.normSql)} AS h FROM w), " +
          "etr AS (SELECT DISTINCT h FROM ek WHERE split = 'train'), " +
          "efl AS (SELECT ek.doc_id, CASE WHEN etr.h IS NOT NULL THEN 1 ELSE 0 END AS fe " +
          "FROM ek LEFT JOIN etr USING (h) WHERE ek.split <> 'train'), " +
          "ssh AS (SELECT doc_id, split, " +
          s"unnest(list_transform($sh, sgl -> ${h60Sql("sgl")})) AS h FROM w), " +
          "str AS (SELECT DISTINCT h FROM ssh WHERE split = 'train'), " +
          "nfl AS (SELECT s.doc_id, max(CASE WHEN str.h IS NOT NULL THEN 1 ELSE 0 END) AS fn " +
          "FROM ssh s LEFT JOIN str USING (h) WHERE s.split <> 'train' GROUP BY 1), " +
          s"occ AS (SELECT doc_id, split, ${h60Sql("g")} AS h FROM " +
          s"(SELECT doc_id, split, $gram AS g FROM " +
          s"(SELECT doc_id, split, ws, unnest(generate_series(1, len(ws) - ${k - 1})) AS p " +
          "FROM w))), " +
          "wtr AS (SELECT DISTINCT h FROM occ WHERE split = 'train'), " +
          "wfl AS (SELECT o.doc_id, max(CASE WHEN wtr.h IS NOT NULL THEN 1 ELSE 0 END) AS fw " +
          "FROM occ o LEFT JOIN wtr USING (h) WHERE o.split <> 'train' GROUP BY 1), " +
          "fl AS (SELECT w.doc_id, coalesce(efl.fe, 0) AS fe, coalesce(nfl.fn, 0) AS fn, " +
          "coalesce(wfl.fw, 0) AS fw FROM w LEFT JOIN efl ON efl.doc_id = w.doc_id " +
          "LEFT JOIN nfl ON nfl.doc_id = w.doc_id LEFT JOIN wfl ON wfl.doc_id = w.doc_id " +
          "WHERE w.split <> 'train'), " +
          "ag AS (SELECT CAST(sum(fe) AS BIGINT) AS se, CAST(sum(fn) AS BIGINT) AS sn, " +
          "CAST(sum(fw) AS BIGINT) AS sw, CAST(sum(fe * fn) AS BIGINT) AS sen, " +
          "CAST(sum(fe * fw) AS BIGINT) AS sew, CAST(sum(fn * fw) AS BIGINT) AS snw FROM fl), " +
          "pr AS (SELECT 'exact' AS m_a, 'ngram' AS m_b, se AS n_a, sn AS n_b, sen AS n_both " +
          "FROM ag UNION ALL " +
          "SELECT 'exact', 'window', se, sw, sew FROM ag UNION ALL " +
          "SELECT 'ngram', 'window', sn, sw, snw FROM ag) " +
          "SELECT m_a, m_b, n_a, n_b, n_both, " +
          "CAST(n_a + n_b - n_both AS BIGINT) AS n_union, " +
          "CAST(CASE WHEN n_a + n_b - n_both = 0 THEN 0 " +
          "ELSE (1000000 * n_both) // (n_a + n_b - n_both) END AS BIGINT) AS jac_e6 " +
          "FROM pr ORDER BY m_a, m_b"
      },
      "decontamination-method agreement — the audit that decides which leakage check a " +
        "pipeline can afford to drop: non-train docs are flagged by three standard " +
        s"methods against train (exact normalized-doc key; any shared 5-gram shingle, " +
        s"x23's check; any shared $SubstrK-token window, x73's basis) and each method " +
        "PAIR reports flagged counts, intersection, union, Jaccard e6. High agreement " +
        "means the cheaper check suffices; low means they catch different leaks. " +
        "Fixture: the x47 mirror re-host lands every 31st doc in its own hash split so " +
        "whole-doc cross-split dups exist and the exact column carries signal. Each " +
        "method is one 8-byte-hash scan-and-join (the composed audits' own shapes); " +
        "flags reduce map-side to a single row, exploded to 3 pair rows."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val aug = docs.unionByName(docs.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      decontamAgreement(aug, splitCol).orderBy("m_a", "m_b")
    },

    // ----- x90: filter ablation (what each cleaning stage uniquely removes) -----
    Q(
      "x90_filter_ablation",
      Some {
        val k = SubstrK
        val gram = (0 until k).map(j => s"ws[p + $j]").mkString(" || ' ' || ")
        val rules = TextAnalysis.gopherRules.mkString(" AND ")
        s"WITH ${TextAnalysis.gopherSqlCtes("")}, " +
          s"qf AS (SELECT doc_id, nw, CASE WHEN NOT ($rules) THEN 1 ELSE 0 END AS fq " +
          s"FROM r WHERE ($splitSql) = 'train'), " +
          s"occ AS (SELECT doc_id, $splitSql AS split, ${h60Sql("g")} AS h FROM " +
          s"(SELECT doc_id, $gram AS g FROM " +
          s"(SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${k - 1})) AS p " +
          "FROM w))), " +
          "ft AS (SELECT h, min(doc_id) AS first_doc FROM occ WHERE split = 'train' " +
          "GROUP BY h), " +
          "evh AS (SELECT DISTINCT h FROM occ WHERE split <> 'train'), " +
          "wfl AS (SELECT o.doc_id, " +
          "max(CASE WHEN ft.first_doc < o.doc_id THEN 1 ELSE 0 END) AS fd, " +
          "max(CASE WHEN evh.h IS NOT NULL THEN 1 ELSE 0 END) AS fl " +
          "FROM occ o JOIN ft USING (h) LEFT JOIN evh USING (h) " +
          "WHERE o.split = 'train' GROUP BY 1), " +
          "fl2 AS (SELECT qf.doc_id, qf.nw, qf.fq, coalesce(wfl.fd, 0) AS fd, " +
          "coalesce(wfl.fl, 0) AS fl FROM qf LEFT JOIN wfl ON wfl.doc_id = qf.doc_id), " +
          "ag AS (SELECT count(*) AS n, sum(fq) AS sq, sum(fd) AS sd, sum(fl) AS sl, " +
          "sum(CASE WHEN fq = 1 AND fd = 0 AND fl = 0 THEN 1 ELSE 0 END) AS oq, " +
          "sum(CASE WHEN fd = 1 AND fq = 0 AND fl = 0 THEN 1 ELSE 0 END) AS od, " +
          "sum(CASE WHEN fl = 1 AND fq = 0 AND fd = 0 THEN 1 ELSE 0 END) AS ol, " +
          "sum(greatest(fq, fd, fl)) AS sa, " +
          "sum(CASE WHEN fq + fd + fl = 1 THEN 1 ELSE 0 END) AS oa, " +
          "sum(nw * fq) AS nwq, sum(nw * fd) AS nwd, sum(nw * fl) AS nwl, " +
          "sum(nw * greatest(fq, fd, fl)) AS nwa FROM fl2), " +
          "pr AS (SELECT 'quality' AS method, sq AS n_flagged, oq AS n_only, " +
          "nwq AS nw_flagged, n FROM ag UNION ALL " +
          "SELECT 'window_dup', sd, od, nwd, n FROM ag UNION ALL " +
          "SELECT 'eval_leak', sl, ol, nwl, n FROM ag UNION ALL " +
          "SELECT 'any', sa, oa, nwa, n FROM ag) " +
          "SELECT method, CAST(n_flagged AS BIGINT) AS n_flagged, " +
          "CAST(n_only AS BIGINT) AS n_only, CAST(nw_flagged AS BIGINT) AS nw_flagged, " +
          "CAST(n AS BIGINT) AS n_docs, " +
          "CAST(CASE WHEN n = 0 THEN 0 ELSE (1000000 * n_flagged) // n END AS BIGINT) " +
          "AS flag_e6 FROM pr ORDER BY method"
      },
      "filter ablation over the train corpus — what each cleaning stage uniquely " +
        "removes: quality (fails >= 1 Gopher rule), window_dup (shares an 8-token " +
        "window with an earlier train doc — keep-first substring dedup at doc grain), " +
        "eval_leak (shares a window with any val/test doc). Per method plus 'any': " +
        "docs flagged, docs flagged by that method ALONE (n_only ~ 0 means the filter " +
        "is subsumed and can be dropped), token mass, flag rate e6. Quality is one " +
        "native GopherMetrics scan; both window flags ride a single windowHash60 " +
        "explode shuffled once on the 8-byte hash; the ablation aggregate is one row."
    ) { (s, dir) =>
      filterAblation(table(s, dir, "documents"), splitCol).orderBy("method")
    },

    // ----- x70: temperature-scaled mixture sampling (α = 1/2) -----
    Q(
      "x70_temp_mix",
      Some(
        "WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents " +
          "GROUP BY lang), " +
          "w AS (SELECT lang, n_docs, CAST(floor(sqrt(n_docs::DOUBLE * 1000000)) AS BIGINT) " +
          "AS w_e3 FROM n), " +
          "tw AS (SELECT CAST(sum(w_e3) AS BIGINT) AS wsum FROM w), " +
          s"r AS (SELECT lang, n_docs, w_e3, least(1000000, ($MixTarget * w_e3 * 1000000) " +
          "// (wsum * n_docs)) AS p_e6 FROM w CROSS JOIN tw), " +
          s"k AS (SELECT d.lang, CASE WHEN ${h60Sql("CAST(d.doc_id AS VARCHAR)")} % 1000000 " +
          "< r.p_e6 THEN 1 ELSE 0 END AS kept FROM documents d JOIN r ON r.lang = d.lang), " +
          "ka AS (SELECT lang, CAST(sum(kept) AS BIGINT) AS n_kept FROM k GROUP BY lang) " +
          "SELECT r.lang, r.n_docs, r.w_e3, CAST(r.p_e6 AS BIGINT) AS p_e6, ka.n_kept " +
          "FROM r JOIN ka USING (lang) ORDER BY lang"),
      s"temperature-scaled mixture sampling (Arivazhagan et al. 2019 — the α-temperature " +
        "rule multilingual trainers flatten language histograms with; α = 1/2 here so the " +
        "weight is an integer-exact sqrt, both engines IEEE-identical): per language, " +
        s"weight w ∝ √n, inclusion probability min(1, ${MixTarget}·w/(ΣW·n)), drawn per doc " +
        "by the deterministic x61 hash-Bernoulli — dominant languages downsample toward " +
        s"the $MixTarget-doc budget, low-resource ones keep everything. Output per " +
        "language: corpus count, weight, inclusion p, realized keeps. One corpus " +
        "aggregation + a broadcast |langs|-row rate table + a per-row draw — no window, " +
        "no second pass."
    ) { (s, dir) =>
      temperatureMix(table(s, dir, "documents"))
        .groupBy("lang", "n_docs", "w_e3", "p_e6")
        .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("lang")
    },

    // ----- x81: token-budget / epoch planner (data-constrained scaling) -----
    Q(
      "x81_token_budget",
      Some {
        val extra = mulShareE6Sql("e.excess", "((c.w_e3 * 1000000) // e.wfree)")
        // skew fixture: even-numbered sources keep only every 8th doc, so
        // sqrt-flattening pushes their epochs PAST the cap — the capped
        // branch and the redistribution waterfall both carry real data
        s"WITH aug AS (SELECT * FROM documents WHERE doc_id % 8 = 0 " +
          "OR CAST(substr(source, 4) AS INT) % 2 = 1), " +
          "a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
          s"CAST(sum(len(${XText.wordsSql("text")})) AS BIGINT) AS avail_tok " +
          "FROM aug GROUP BY 1), " +
          "w AS (SELECT *, CAST(floor(sqrt(avail_tok::DOUBLE * 1000000)) AS BIGINT) " +
          "AS w_e3 FROM a), " +
          "t AS (SELECT CAST(sum(avail_tok) AS BIGINT) AS tot, " +
          "CAST(sum(w_e3) AS BIGINT) AS wsum FROM w), " +
          s"j AS (SELECT w.*, t.tot * $BudgetMult AS budget, " +
          "(w_e3 * 1000000) // t.wsum AS share_e6 FROM w CROSS JOIN t), " +
          s"p AS (SELECT *, ${mulShareE6Sql("budget", "share_e6")} AS plan0, " +
          s"avail_tok * $EpochCap AS cap FROM j), " +
          "c AS (SELECT *, plan0 > cap AS capped FROM p), " +
          "e AS (SELECT CAST(sum(CASE WHEN capped THEN plan0 - cap ELSE 0 END) AS BIGINT) " +
          "AS excess, CAST(sum(CASE WHEN capped THEN 0 ELSE w_e3 END) AS BIGINT) AS wfree " +
          "FROM c), " +
          "f AS (SELECT c.*, CASE WHEN c.capped THEN c.cap ELSE least(c.cap, c.plan0 + " +
          s"CASE WHEN e.wfree = 0 THEN 0 ELSE $extra END) END AS planned " +
          "FROM c CROSS JOIN e) " +
          "SELECT source, n_docs, avail_tok, w_e3, CAST(plan0 AS BIGINT) AS plan0_tok, " +
          "CAST(planned AS BIGINT) AS planned_tok, " +
          "CAST((planned * 1000000) // avail_tok AS BIGINT) AS epochs_e6, capped " +
          "FROM f ORDER BY source"
      },
      s"the token-budget / EPOCH planner (data-constrained scaling, Muennighoff et al. " +
        s"2023): at a training budget of ${BudgetMult}x the corpus, each source's " +
        "allocation follows x70's α = 1/2 temperature weight (w ∝ √tokens, IEEE-sqrt " +
        s"floored), hard-capped at $EpochCap epochs of what the source actually has; " +
        "capped excess redistributes once, proportionally, to uncapped sources " +
        "(deterministic single waterfall round — any residual shortfall is visible as " +
        "Σplanned < budget). epochs_e6 is the oversampling factor a sampler implements " +
        "directly. One corpus scan for token counts, then |sources|-row algebra with two " +
        "single-row broadcast totals; the quotient/remainder share multiply keeps every " +
        "intermediate in int64 up to ~9e12 tokens per source."
    ) { (s, dir) =>
      tokenBudget(table(s, dir, "documents")
        .filter(col("doc_id") % 8 === 0 ||
          expr("CAST(substring(source, 4) AS INT) % 2 = 1")))
        .orderBy("source")
    },

    // ----- x82: shard interleaving audit (run-lengths in trainer read order) -----
    Q(
      "x82_shard_mixing",
      Some {
        val over = "OVER (PARTITION BY shard ORDER BY ord, doc_id)"
        s"WITH t AS (SELECT doc_id, source, $ordSql AS ord FROM documents), " +
          s"s AS (SELECT doc_id, source, ord, ord % $PackShards AS shard FROM t), " +
          s"c AS (SELECT *, CASE WHEN lag(source) $over IS NULL " +
          s"OR lag(source) $over <> source THEN 1 ELSE 0 END AS chg FROM s), " +
          s"r AS (SELECT *, sum(chg) $over AS run_id FROM c), " +
          "g AS (SELECT shard, run_id, CAST(count(*) AS BIGINT) AS len, " +
          "min(source) AS src FROM r GROUP BY 1, 2) " +
          "SELECT shard, CAST(sum(len) AS BIGINT) AS n_docs, " +
          "CAST(count(DISTINCT src) AS BIGINT) AS n_sources, " +
          "CAST(count(*) AS BIGINT) AS n_runs, CAST(max(len) AS BIGINT) AS max_run, " +
          "CAST((sum(len) * 1000000) // count(*) AS BIGINT) AS mean_run_e6 " +
          "FROM g GROUP BY shard ORDER BY shard"
      },
      "shard INTERLEAVING audit — is the trainer's actual read order well-mixed? Over " +
        "the x49 pack order (hash order within shards), gaps-and-islands finds maximal " +
        "runs of consecutive same-source docs; per shard: docs, distinct sources, run " +
        "count, longest run and mean run length (e6). Long runs mean correlated gradient " +
        "batches — the property hash-shuffling is SUPPOSED to buy, measured instead of " +
        "assumed. The lag + running-sum window pair rides the same per-shard sort the " +
        "pack writer already performs, so fused into a pack build this audit costs " +
        "nothing extra; output is |shards| rows."
    ) { (s, dir) =>
      shardMixing(table(s, dir, "documents")).orderBy("shard")
    },

    // ----- x83: padding-efficiency audit (length-grouped batching, measured) -----
    Q(
      "x83_pad_efficiency",
      Some {
        def leg(strategy: String, order: String) =
          s"(SELECT '$strategy' AS strategy, shard, CAST(sum(n) AS BIGINT) AS n_docs, " +
            "CAST(count(*) AS BIGINT) AS n_batches, CAST(sum(st) AS BIGINT) AS sum_tok, " +
            "CAST(sum(mx * n - st) AS BIGINT) AS pad_tok FROM " +
            "(SELECT shard, bid, count(*) AS n, max(n_tok) AS mx, sum(n_tok) AS st FROM " +
            "(SELECT shard, (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY " + order +
            s") - 1) // $PadBatch AS bid, n_tok FROM s) GROUP BY 1, 2) GROUP BY 2)"
        s"WITH t AS (SELECT doc_id, CAST(len(${XText.wordsSql("text")}) AS BIGINT) AS n_tok, " +
          s"$ordSql AS ord FROM documents), " +
          s"s AS (SELECT *, ord % $PackShards AS shard FROM t), " +
          s"u AS (${leg("arrival", "ord, doc_id")} UNION ALL ${leg("length", "n_tok DESC, doc_id")}) " +
          "SELECT strategy, shard, n_docs, n_batches, sum_tok, pad_tok, " +
          "CAST((pad_tok * 1000000) // (pad_tok + sum_tok) AS BIGINT) AS pad_e6 " +
          "FROM u ORDER BY strategy, shard"
      },
      s"the measured case for length-grouped batching: batches of $PadBatch docs cut from " +
        "each shard under the naive arrival (hash) order vs n_tok-descending order, each " +
        "batch paying max·n − Σtok padding tokens; pad_e6 is the fraction of step compute " +
        "burned on pad. Sorted contiguous grouping minimizes the sum of batch maxima, so " +
        "the length strategy can never lose (spec-pinned) — this reports how much it WINS " +
        "on the real corpus, per shard. Both orders are per-shard windows riding the pack " +
        "writer's own partitioning (never a global sort); output is 2·|shards| rows."
    ) { (s, dir) =>
      padEfficiency(table(s, dir, "documents")).orderBy("strategy", "shard")
    },

    // ----- x64: span-level decontamination (keep ZERO copies of benchmark spans) -----
    Q(
      "x64_decontam_spans",
      Some {
        val k = SubstrK
        val gram = (0 until k).map(j => s"ws[p + $j]").mkString(" || ' ' || ")
        s"WITH w0 AS (SELECT doc_id, $splitSql AS split, ${XText.wordsSql("text")} AS ws " +
          "FROM documents), " +
          "tr AS (SELECT doc_id, ws FROM w0 WHERE split = 'train'), " +
          "d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw FROM tr), " +
          s"bh AS (SELECT DISTINCT ${h60Sql("g")} AS h FROM " +
          s"(SELECT $gram AS g FROM (SELECT ws, unnest(generate_series(1, len(ws) - ${k - 1})) " +
          s"AS p FROM w0 WHERE split <> 'train' AND len(ws) >= $k))), " +
          s"occ AS (SELECT doc_id, p, ${h60Sql("g")} AS h FROM " +
          s"(SELECT doc_id, p, $gram AS g FROM " +
          s"(SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${k - 1})) AS p " +
          s"FROM tr WHERE len(ws) >= $k))), " +
          "pos AS (SELECT DISTINCT doc_id, p + j AS pos FROM " +
          s"(SELECT occ.doc_id, occ.p, unnest(generate_series(0, ${k - 1})) AS j " +
          "FROM occ JOIN bh USING (h))), " +
          "tok AS (SELECT doc_id, i AS pos, ws[i] AS tk FROM " +
          "(SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM tr)), " +
          "kept AS (SELECT tok.doc_id, tok.pos, tok.tk FROM tok " +
          "LEFT JOIN pos ON pos.doc_id = tok.doc_id AND pos.pos = tok.pos " +
          "WHERE pos.doc_id IS NULL), " +
          "ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
          "string_agg(tk, ' ' ORDER BY pos) AS text_clean FROM kept GROUP BY doc_id) " +
          "SELECT d.doc_id, d.nw, " +
          "CAST(d.nw - coalesce(ag.n_kept, 0) AS BIGINT) AS n_removed, " +
          "coalesce(ag.text_clean, '') AS text_clean " +
          "FROM d LEFT JOIN ag USING (doc_id) ORDER BY d.doc_id"
      },
      s"span-level DECONTAMINATION: every $SubstrK-token window the train split shares with " +
        "the held-out (val/test) splits is cut from the train docs — ALL occurrences, zero " +
        "copies kept (x43 keeps one owner copy; a benchmark must not leak into training at " +
        "all). The enforcement half of x23's detection. Scale shape: the benchmark window " +
        "set is a broadcast 8-byte-hash table (benchmarks are tiny next to the corpus); one " +
        "windowHash60 pass over train + broadcast semi-join; the position explode is " +
        "bounded by the CONTAMINATED volume only; reassembly is x43's per-doc sort."
    ) { (s, dir) =>
      val split = splitAssign(table(s, dir, "documents"))
      removeContaminatedSpans(
        split.filter(col("split") === "train"),
        split.filter(col("split") =!= "train"))
        .orderBy("doc_id")
    },

    // ----- x61: DSIR importance RESAMPLING (the paper's soft selection) -----
    Q(
      "x61_dsir_resample",
      Some {
        val B = DsirBuckets
        val T = DsirTopK
        s"WITH w AS (SELECT doc_id, source, lang = 'en' AS is_t, " +
          s"${XText.wordsSql("text")} AS ws FROM documents), " +
          "u AS (SELECT doc_id, source, is_t, unnest(list_transform(" +
          s"generate_series(1, len(ws)), i -> ${h60Sql("ws[i]")})) AS h FROM w " +
          "UNION ALL SELECT doc_id, source, is_t, unnest(list_transform(" +
          s"generate_series(1, len(ws) - 1), i -> ${h60Sql("ws[i] || ' ' || ws[i + 1]")})) AS h " +
          "FROM w WHERE len(ws) >= 2), " +
          s"f AS (SELECT doc_id, source, is_t, h % $B AS b FROM u), " +
          "bc AS (SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct, " +
          "CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr FROM f GROUP BY b), " +
          "g AS (SELECT b, ct, cr, CAST(sum(ct) OVER () AS BIGINT) AS t_all, " +
          "CAST(sum(cr) OVER () AS BIGINT) AS r_all FROM bc), " +
          "wt AS (SELECT b, ((((ct + 1) * 1000000) // (cr + 1)) * " +
          s"(((r_all + $B) * 1000000) // (t_all + $B))) // 1000000 AS w_e6 FROM g), " +
          "ds AS (SELECT f.doc_id, f.source, CAST(count(*) AS BIGINT) AS n_feat, " +
          "CAST(sum(wt.w_e6) AS BIGINT) AS sw FROM f JOIN wt USING (b) " +
          "WHERE NOT f.is_t GROUP BY 1, 2), " +
          "sc AS (SELECT doc_id, source, sw // n_feat AS score_e6 FROM ds), " +
          "t AS (SELECT CAST(sum(score_e6) AS BIGINT) AS s_tot FROM sc), " +
          "p AS (SELECT sc.doc_id, sc.source, sc.score_e6, " +
          s"least(1000000, (sc.score_e6 * 1000000) // (t.s_tot // $T + 1)) AS p_e6 " +
          "FROM sc CROSS JOIN t), " +
          s"k AS (SELECT source, score_e6, p_e6, " +
          s"${h60Sql("CAST(doc_id AS VARCHAR)")} % 1000000 < p_e6 AS kept FROM p) " +
          "SELECT source, count(*) AS n_raw, " +
          "CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
          "CAST(sum(CASE WHEN kept THEN score_e6 ELSE 0 END) AS BIGINT) AS kept_score_sum " +
          "FROM k GROUP BY source ORDER BY source"
      },
      "DSIR's ACTUAL selection rule — importance RESAMPLING (Xie et al. 2023 sample raw docs " +
        "∝ importance weight; x51's top-k is the hard variant): per raw doc a Bernoulli draw " +
        s"with inclusion probability ∝ score targeting $DsirTopK expected keeps, capped at 1. " +
        "The draw is the deterministic cross-engine hash, so the sample is reproducible AND " +
        "oracle-checkable — the distributed answer to the paper's sequential gumbel-top-k. " +
        "Scale shape: one single-row score total broadcast back (never a whole-frame window), " +
        "then a per-row draw; nothing global anywhere."
    ) { (s, dir) =>
      dsirResample(table(s, dir, "documents"), col("lang") === "en")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_raw"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("score_e6")).otherwise(0L)).as("kept_score_sum"))
        .orderBy("source")
    },

    // ----- x96: line-level boilerplate removal (C4/CCNet), measured per source -----
    Q(
      "x96_boilerplate",
      Some {
        val hid = h60Sql("CAST(doc_id AS VARCHAR)")
        s"WITH aug AS (SELECT doc_id, source, text || chr(10) || " +
          "'subscribe to ' || source || ' newsletter' || chr(10) || " +
          s"(CASE WHEN $hid % 4 = 0 THEN 'limited promo offer today' " +
          "ELSE 'ref ' || CAST(doc_id AS VARCHAR) END) AS text FROM documents), " +
          "l0 AS (SELECT doc_id, source, trim(x) AS line FROM " +
          "(SELECT doc_id, source, unnest(string_split(text, chr(10))) AS x FROM aug)), " +
          s"l AS (SELECT doc_id, source, ${h60Sql("line")} AS lh, " +
          "CAST(len(line) AS BIGINT) AS nc FROM l0 WHERE line <> ''), " +
          "df AS (SELECT lh, count(DISTINCT doc_id) AS df FROM l GROUP BY 1), " +
          s"b AS (SELECT lh FROM df WHERE df >= $BoilerMinDf), " +
          "f AS (SELECT l.doc_id, l.source, l.lh, l.nc, " +
          "CASE WHEN b.lh IS NOT NULL THEN 1 ELSE 0 END AS rm " +
          "FROM l LEFT JOIN b ON l.lh = b.lh) " +
          "SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
          "CAST(count(*) AS BIGINT) AS n_lines, " +
          "CAST(sum(rm) AS BIGINT) AS lines_removed, " +
          "CAST(count(DISTINCT CASE WHEN rm = 1 THEN lh END) AS BIGINT) AS n_boiler_distinct, " +
          "CAST(sum(rm * nc) AS BIGINT) AS chars_removed, " +
          "CAST(sum((1 - rm) * nc) AS BIGINT) AS chars_kept, " +
          "CAST((sum(rm * nc) * 1000000) // (sum(rm * nc) + sum((1 - rm) * nc)) AS BIGINT) " +
          "AS removed_ppm FROM f GROUP BY source ORDER BY source"
      },
      "C4-style line-level boilerplate removal, measured per source (Raffel et al. 2020 " +
        "drop corpus-repeated lines; CCNet hashes paragraphs): lines repeating across " +
        s">= $BoilerMinDf distinct docs are template text (footers, promos), everything " +
        "else is content. The fixture has no newlines, so — x47's mirror pattern — both " +
        "engines append the SAME two deterministic lines per doc (a per-source footer, " +
        "df = docs-per-source, and a hash-gated global promo line, df ~ n/4) so every " +
        "audit column is exercised by data while the 'ref <id>' control line stays " +
        "unique and must survive. One line-hash document-frequency shuffle; the " +
        "threshold-filtered boilerplate set broadcasts; output is |sources| rows."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val aug = docs.withColumn("text",
        concat(
          col("text"), lit("\n"),
          lit("subscribe to "), col("source"), lit(" newsletter"), lit("\n"),
          when(XHash.h60(col("doc_id").cast("string")) % 4 === 0, lit("limited promo offer today"))
            .otherwise(concat(lit("ref "), col("doc_id").cast("string")))))
      boilerplateAudit(aug).orderBy("source")
    },

    // ----- x97: split-composition drift audit -----
    Q(
      "x97_split_drift",
      Some {
        s"WITH t AS (SELECT doc_id, source, $splitSql AS split, " +
          s"CAST(len(${XText.wordsSql("text")}) AS BIGINT) AS n_tok FROM documents), " +
          "c AS (SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(n_tok) AS BIGINT) AS sum_tok FROM t GROUP BY 1, 2), " +
          "st AS (SELECT split, CAST(sum(n_docs) AS BIGINT) AS split_docs FROM c GROUP BY 1), " +
          "sc AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS src_docs FROM c GROUP BY 1), " +
          "tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS all_docs FROM c), " +
          "dom AS (SELECT source, src_docs, unnest(['train', 'val', 'test']) AS split FROM sc), " +
          "j AS (SELECT dom.split, dom.source, dom.src_docs, " +
          "coalesce(c.n_docs, 0) AS n_docs, coalesce(c.sum_tok, 0) AS sum_tok " +
          "FROM dom LEFT JOIN c ON dom.split = c.split AND dom.source = c.source) " +
          "SELECT j.split, j.source, CAST(j.n_docs AS BIGINT) AS n_docs, " +
          "CAST((j.n_docs * 1000000) // st.split_docs AS BIGINT) AS share_ppm, " +
          "CAST((j.src_docs * 1000000) // tt.all_docs AS BIGINT) AS corpus_ppm, " +
          "CAST((j.n_docs * 1000000) // st.split_docs - " +
          "(j.src_docs * 1000000) // tt.all_docs AS BIGINT) AS drift_ppm, " +
          "CAST(CASE WHEN j.n_docs = 0 THEN 0 ELSE (j.sum_tok * 100) // j.n_docs END AS BIGINT) " +
          "AS mean_tok_e2 " +
          "FROM j JOIN st USING (split) CROSS JOIN tt ORDER BY split, source"
      },
      "split-composition DRIFT audit — does each x19 split look like the corpus? Every " +
        "(split, source) cell — including ZERO-doc cells, the worst drift a split can " +
        "have — reports the source's share of the split vs its share of the corpus (ppm, " +
        "signed difference) and mean doc length. A hash split should sit near zero; this " +
        "MEASURES it, and catches any split rule correlated with source before the " +
        "trainer sees it. One keyed (split, source) rollup; totals are broadcast joins " +
        "of those cells; output is 3 * |sources| rows."
    ) { (s, dir) =>
      splitDrift(table(s, dir, "documents")).orderBy("split", "source")
    },

    // ----- x102: OOV-rate audit (tokenizer/vocab coverage of held-out splits) -----
    Q(
      "x102_oov_rate",
      Some(
        s"WITH t AS (SELECT $splitSql AS split, source, doc_id, " +
          s"unnest(${XText.wordsSql("text")}) AS tk FROM documents), " +
          "v AS (SELECT tk FROM (SELECT tk, count(DISTINCT doc_id) AS df FROM t " +
          s"WHERE split = 'train' GROUP BY tk) WHERE df >= $OovMinDf), " +
          "ev AS (SELECT split, source, tk FROM t WHERE split <> 'train') " +
          "SELECT ev.split, ev.source, CAST(count(*) AS BIGINT) AS n_tok, " +
          "CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
          "CAST((1000000 * sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END)) // count(*) " +
          "AS BIGINT) AS oov_e6 " +
          "FROM ev LEFT JOIN v ON v.tk = ev.tk GROUP BY 1, 2 ORDER BY 1, 2"),
      "OOV-RATE audit: build the vocabulary from the x19 train split (words seen " +
        s"in >= $OovMinDf distinct train docs) and measure the out-of-vocabulary " +
        "token rate of the val/test splits per source — the coverage check run " +
        "before freezing a tokenizer, and a drift alarm when a held-out source's " +
        "OOV rate spikes. One exploded-token scan, a map-side-combinable df " +
        "aggregate for the vocab, and one dictionary join keyed on the term."
    ) { (s, dir) =>
      oovRate(table(s, dir, "documents")).orderBy("split", "source")
    },

    // ----- x107: phase-pure pack build (curriculum x packing) -----
    Q(
      "x107_phase_packing",
      Some {
        val P = TextAnalysis.CurriculumPhases
        s"WITH ${TextAnalysis.qualityPerDocSqlCtes}, " +
          s"ph AS (SELECT doc_id, n_tok, " +
          s"NTILE($P) OVER (ORDER BY score_e4 DESC, doc_id) AS phase, " +
          s"$ordSql AS ord FROM qd), " +
          s"s AS (SELECT doc_id, n_tok, phase, ord, ord % $PackShards AS shard FROM ph), " +
          "c AS (SELECT doc_id, phase, shard, n_tok, " +
          "coalesce(sum(n_tok) OVER (PARTITION BY phase, shard " +
          "ORDER BY ord, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum " +
          "FROM s), " +
          s"p AS (SELECT phase, shard, cum // $PackBudget AS pack, " +
          "CAST(count(*) AS BIGINT) AS pd, CAST(sum(n_tok) AS BIGINT) AS pt " +
          "FROM c GROUP BY 1, 2, 3) " +
          "SELECT CAST(phase AS BIGINT) AS phase, CAST(sum(pd) AS BIGINT) AS n_docs, " +
          "CAST(sum(pt) AS BIGINT) AS sum_tok, CAST(count(*) AS BIGINT) AS n_packs, " +
          s"CAST((1000000 * sum(pt)) // (count(*) * $PackBudget) AS BIGINT) AS fill_e6 " +
          "FROM p GROUP BY 1 ORDER BY 1"
      },
      "PHASE-PURE PACK BUILD — x101's curriculum composed with x21's packer: docs " +
        "phase-assigned easy-first, then packed within each phase in x21's hash " +
        "order and shard layout, so a curriculum trainer streams phase 1's packs " +
        "before phase 2 ever loads. Per phase: docs, tokens, packs and fill ratio " +
        "(e6 of budget*packs) — the utilization number that says whether phase " +
        "boundaries fragment packs. Phase = global NTILE (x101's oracle pin); the " +
        "100 TB path swaps in sampled-quantile phases (phasePackingByThresholds, " +
        "ScaleSmoke x107_phase_packing_auto) and the cumsum partitions by " +
        "(phase, shard) — x21's parallel layout with one extra key."
    ) { (s, dir) =>
      phasePacking(table(s, dir, "documents")).orderBy("phase")
    },

    // ----- x108: n-gram coverage of held-out splits by train -----
    Q(
      "x108_ngram_coverage",
      Some {
        val k = CovK
        val gram = (0 until k).map(j => s"ws[p + $j]").mkString(" || ' ' || ")
        s"WITH t AS (SELECT $splitSql AS split, source, doc_id, " +
          s"${XText.wordsSql("text")} AS ws FROM documents), " +
          s"occ AS (SELECT split, source, ${h60Sql("g")} AS h FROM " +
          s"(SELECT split, source, $gram AS g FROM " +
          s"(SELECT split, source, ws, unnest(generate_series(1, len(ws) - ${k - 1})) AS p " +
          s"FROM t WHERE len(ws) >= $k))), " +
          "tr AS (SELECT DISTINCT h FROM occ WHERE split = 'train'), " +
          "ev AS (SELECT DISTINCT split, source, h FROM occ WHERE split <> 'train') " +
          "SELECT ev.split, ev.source, CAST(count(*) AS BIGINT) AS n_grams, " +
          "CAST(sum(CASE WHEN tr.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_covered, " +
          "CAST((1000000 * sum(CASE WHEN tr.h IS NULL THEN 0 ELSE 1 END)) // count(*) " +
          "AS BIGINT) AS cov_e6 " +
          "FROM ev LEFT JOIN tr ON tr.h = ev.h GROUP BY 1, 2 ORDER BY 1, 2"
      },
      s"N-GRAM COVERAGE of the held-out splits by train: per (split, source), the " +
        s"fraction of distinct word $CovK-grams also seen anywhere in train — the " +
        "corpus-level generalization-shift proxy (low = domain gap, the eval will " +
        "read harder than the model is; at k=8+ high coverage would be leakage, " +
        "which is x73's per-doc audit — k=3 measures distributional familiarity, " +
        "not copying). One native windowHash60 scan, a distinct 8-byte train-gram " +
        "set, one hash-keyed membership join; x75's Bloom is the drop-in when " +
        "exact membership stops being worth the shuffle."
    ) { (s, dir) =>
      ngramCoverage(table(s, dir, "documents")).orderBy("split", "source")
    },

    // ----- x112: shuffle-key skew profiler (events.user_id) -----
    Q(
      "x112_key_skew",
      Some(
        "WITH pk AS (SELECT event_type, user_id, count(*) AS cnt " +
          "FROM events GROUP BY 1, 2), " +
          "st AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_rows, " +
          "CAST(count(*) AS BIGINT) AS n_keys, " +
          "CAST(max(cnt) AS BIGINT) AS max_key_rows FROM pk GROUP BY 1), " +
          "ht AS (SELECT pk.event_type, CAST(count(*) AS BIGINT) AS n_hot_keys, " +
          "CAST(sum(pk.cnt) AS BIGINT) AS hot_rows " +
          "FROM pk JOIN st USING (event_type) " +
          "WHERE pk.cnt * st.n_keys > 2 * st.n_rows GROUP BY 1) " +
          "SELECT st.event_type, st.n_rows, st.n_keys, st.max_key_rows, " +
          "CAST((1000000 * st.max_key_rows * st.n_keys) // st.n_rows AS BIGINT) AS skew_e6, " +
          "CAST(coalesce(ht.n_hot_keys, 0) AS BIGINT) AS n_hot_keys, " +
          "CAST(coalesce(ht.hot_rows, 0) AS BIGINT) AS hot_rows, " +
          "CAST((1000000 * coalesce(ht.hot_rows, 0)) // st.n_rows AS BIGINT) AS hot_e6 " +
          "FROM st LEFT JOIN ht USING (event_type) ORDER BY 1"),
      "SHUFFLE-KEY SKEW profiler over (event_type, user_id) — the audit run BEFORE " +
        "choosing a partitioning: per type, row/key counts, the heaviest key's mass, " +
        "skew_e6 = 1e6·max/mean (the straggler multiplier a naive hash partition " +
        "suffers; 1e6 = uniform) and the hot-key set above 2× mean — the salting " +
        "candidates — with its row mass. The measured input to the " +
        "cc_megastar_salted decision. Two keyed aggregations (the corpus-sized one " +
        "IS the shuffle being audited, map-side combinable), a |types|-row broadcast " +
        "back for the hot pass; no window, no sort."
    ) { (s, dir) =>
      keySkew(table(s, dir, "events")).orderBy("event_type")
    },

    // ----- x123: output-shard balance (the write-side skew audit) -----
    Q(
      "x123_shard_balance",
      Some(
        s"WITH d AS (SELECT ${h60Sql("CAST(doc_id AS VARCHAR)")} % $ShardN AS shard, " +
          s"CAST(len(${XText.wordsSql("text")}) AS BIGINT) AS n_tok FROM documents), " +
          "g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(n_tok) AS BIGINT) AS n_tok FROM d GROUP BY 1), " +
          "t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot FROM g) " +
          "SELECT shard, n_docs, n_tok, " +
          "CAST((1000000 * n_tok) // tot AS BIGINT) AS tok_ppm, " +
          s"CAST((1000000 * n_tok * $ShardN) // tot AS BIGINT) AS dev_e6 " +
          "FROM g CROSS JOIN t ORDER BY shard"),
      s"OUTPUT-SHARD BALANCE — x112's skew question pointed at the write side: the " +
        s"corpus shipped as $ShardN hash-sharded files (shard = h60(doc_id) mod N, " +
        "the layout x83's interleaving and every loader consume). Per shard: docs, " +
        "token mass, token share (ppm) and dev_e6 (1e6 = perfect balance; " +
        "max dev_e6 / 1e6 is the straggler multiplier of any stage that processes " +
        "shards as units — one fat shard IS the epoch's critical path). Doc balance " +
        "is near-guaranteed by the hash, TOKEN balance is not (the shard that " +
        "hash-catches the long-doc tail runs hot), so both are reported. One " +
        "tokenize scan into an N-row aggregate + a broadcast 1-row total — no " +
        "window, no sort; provably invariant under disjoint-key corpus replication."
    ) { (s, dir) =>
      shardBalance(table(s, dir, "documents")).orderBy("shard")
    },

    // ----- x125: intra-doc chunk divergence (topic-mix / concat-seam audit) -----
    Q(
      "x125_chunk_divergence",
      Some {
        val (wdw, st) = (ChunkW, ChunkS)
        val cws = XText.wordsSql("chunk_text")
        s"WITH w AS (SELECT doc_id, ${XText.wordsSql("text")} AS ws FROM documents), " +
          "d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nw, " +
          s"1 + CASE WHEN len(ws) > $wdw THEN (len(ws) - $wdw + ${st - 1}) // $st ELSE 0 END " +
          "AS nc FROM w), " +
          "c AS (SELECT doc_id, ws, nw, unnest(generate_series(0, nc - 1)) AS i FROM d), " +
          "ck AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_id, " +
          s"array_to_string(ws[(1 + i * $st):(least(CAST($wdw AS BIGINT), nw - (1 + i * $st) + 1) + i * $st)], ' ') " +
          "AS chunk_text FROM c), " +
          s"tk AS (SELECT doc_id, chunk_id, unnest(list_transform($cws, wd -> ${h60Sql("wd")})) AS h " +
          "FROM ck), " +
          "bt AS (SELECT doc_id, chunk_id, bit, " +
          "sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM tk CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits " +
          "GROUP BY 1, 2, 3), " +
          "sh AS (SELECT doc_id, chunk_id, " +
          "CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS s " +
          "FROM bt GROUP BY 1, 2), " +
          "p AS (SELECT a.doc_id AS doc_id, CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS h " +
          "FROM sh a JOIN sh b ON a.doc_id = b.doc_id AND a.chunk_id < b.chunk_id), " +
          "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs, " +
          "CAST(sum(h) AS BIGINT) AS sum_h FROM p GROUP BY 1), " +
          "pd2 AS (SELECT doc_id, n_pairs, sum_h, " +
          "CAST((1000000 * sum_h) // (60 * n_pairs) AS BIGINT) AS div_e6 FROM pd) " +
          "SELECT source, CAST(count(*) AS BIGINT) AS n_docs_mc, " +
          s"CAST(sum(CASE WHEN div_e6 >= $DivergeE6 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed, " +
          s"CAST((1000000 * sum(CASE WHEN div_e6 >= $DivergeE6 THEN 1 ELSE 0 END)) // count(*) " +
          "AS BIGINT) AS mixed_e6, " +
          "CAST(sum(n_pairs) AS BIGINT) AS n_pairs, " +
          "CAST((1000000 * sum(sum_h)) // (60 * sum(n_pairs)) AS BIGINT) AS mean_div_e6 " +
          "FROM pd2 JOIN documents USING (doc_id) GROUP BY source ORDER BY source"
      },
      "INTRA-DOC CHUNK DIVERGENCE — per source, pairwise simhash hamming between a " +
        "doc's own x36 chunks: a concatenation artifact (crawler merging unrelated " +
        "pages), topic-mixed scrape, or OCR garbage has chunks as far apart as random " +
        s"text, and a doc whose chunks disagree on ≥ ${DivergeE6 / 10000}% of bits on " +
        "average is flagged mixed. The seam signal bag-of-words metrics (x31/x109) " +
        "cannot see — two clean-but-unrelated halves score fine as one bag — and the " +
        "RAG-index QA gate: x91 embeds chunks assuming chunk≈doc topic. Chunking + " +
        "per-chunk simhash are one scan-local native pass; the pair join is keyed on " +
        "doc_id (each partition one doc's chunk list, C(nc,2) bounded by the chunk " +
        "cap); the rollup is |sources| rows — no global window, exact integers end " +
        "to end."
    ) { (s, dir) =>
      chunkDivergence(table(s, dir, "documents")).orderBy("source")
    },

    // ----- x133: near-dup split leakage (the fuzzy decontamination leg) -----
    Q(
      "x133_neardup_leakage",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h " +
          "FROM documents), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1), " +
          "p AS (SELECT a.doc_id AS da, b.doc_id AS db FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
          s"sp AS (SELECT doc_id, $splitSql AS split FROM documents), " +
          "x AS (SELECT CASE WHEN sa.split = 'train' THEN p.db ELSE p.da END AS doc_id, " +
          "CASE WHEN sa.split = 'train' THEN sb.split ELSE sa.split END AS split " +
          "FROM p JOIN sp sa ON sa.doc_id = p.da JOIN sp sb ON sb.doc_id = p.db " +
          "WHERE (sa.split = 'train') <> (sb.split = 'train')), " +
          "pp AS (SELECT split, CAST(count(*) AS BIGINT) AS n_pairs FROM x GROUP BY 1), " +
          "lk AS (SELECT split, CAST(count(*) AS BIGINT) AS n_leaky FROM " +
          "(SELECT DISTINCT doc_id, split FROM x) GROUP BY 1), " +
          "ev AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs FROM sp " +
          "WHERE split <> 'train' GROUP BY 1) " +
          "SELECT split, n_docs, CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs, " +
          "CAST(coalesce(n_leaky, 0) AS BIGINT) AS n_leaky, " +
          "CAST((1000000 * coalesce(n_leaky, 0)) // n_docs AS BIGINT) AS leak_e6 " +
          "FROM ev LEFT JOIN pp USING (split) LEFT JOIN lk USING (split) ORDER BY split"
      },
      "NEAR-DUP SPLIT LEAKAGE — the FUZZY decontamination leg: eval docs with a " +
        "train near-dup (simhash hamming ≤ 8) under x19's split. The exact legs " +
        "(x73 windows, x75 Bloom, x64 spans) catch verbatim overlap; paraphrased " +
        "re-posts evade all three and still inflate eval — this is fuzzy decontam " +
        "through the candidate machinery the dedup already runs, so the pairs are " +
        "FREE on the same pass. Per eval split: docs, train↔split candidate pairs, " +
        "leaky docs, leak_e6 — zero-completed; remediation is x86's quarantine. " +
        "Split tags are a per-row hash attached to the 16-byte pair stream by two " +
        "keyed joins; rollup is 2 rows."
    ) { (s, dir) =>
      neardupLeakage(table(s, dir, "documents")).orderBy("split")
    },

    // ----- x134: corpus shuffle audit (order as a signal) -----
    Q(
      "x134_shuffle_audit",
      Some(
        s"WITH d AS (SELECT doc_id, source, ${h60Sql("CAST(doc_id AS VARCHAR)")} % $ShardN AS shard " +
          "FROM documents), " +
          "a AS (SELECT shard, source, lag(source) OVER (PARTITION BY shard ORDER BY doc_id) AS prev " +
          "FROM d), " +
          "g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_adj, " +
          "CAST(sum(CASE WHEN prev = source THEN 1 ELSE 0 END) AS BIGINT) AS same_adj " +
          "FROM a GROUP BY 1), " +
          "g2 AS (SELECT shard, n_docs, n_adj, same_adj, " +
          "CAST(CASE WHEN n_adj = 0 THEN 0 ELSE (1000000 * same_adj) // n_adj END AS BIGINT) " +
          "AS same_e6 FROM g), " +
          "b AS (SELECT CAST((1000000 * sum(CAST(c AS HUGEINT) * c)) // " +
          "(CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT) AS base_e6 " +
          "FROM (SELECT count(*) AS c FROM documents GROUP BY source)) " +
          "SELECT shard, n_docs, n_adj, same_adj, same_e6, base_e6, " +
          "CAST(CASE WHEN base_e6 = 0 THEN 0 ELSE (1000000 * same_e6) // base_e6 END AS BIGINT) " +
          "AS ratio_e6 FROM g2 CROSS JOIN b ORDER BY shard"),
      "CORPUS SHUFFLE AUDIT — order as a signal: per hash shard, the measured " +
        "same-source ADJACENCY rate in on-disk order vs the mixture's own perfect- " +
        "shuffle baseline Σp² (x132's collision arithmetic on the source marginal). " +
        "Loaders stream shards sequentially, so source-clumped writes feed the " +
        "trainer correlated batches (gradient noise collapses, curriculum " +
        "accidents) and NO per-doc metric can see it — only the order can. " +
        "ratio_e6 ≈ 1e6 = well shuffled, ≫ 1e6 = clumped (x82's interleaving is " +
        "the fix). The lag window partitions by shard and orders by the on-disk " +
        "key — at scale each partition is one file's sequential scan, no global " +
        "sort; the baseline is a |sources|-row aggregate broadcast back."
    ) { (s, dir) =>
      shuffleAudit(table(s, dir, "documents")).orderBy("shard")
    }
  )
}
