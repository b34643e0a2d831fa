package graft.xscale

import org.apache.spark.sql.{Column, DataFrame, graftnative}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.query.Q
import graft.query.Registry.table
import XHash.{h60, h60Sql, P}

/** Document deduplication at training-data scale: exact (hash groupBy),
  * MinHash+LSH (shingle → minhash → band → bucket join), SimHash (bitwise
  * fingerprint + hamming), exact n-gram Jaccard (the verify step / oracle
  * for the sketches), and embedding-cosine near-dup.
  *
  * Scale posture (100 TB): signatures (minhash sig, simhash, norms) are pure
  * per-row array expressions — no UDF, no shuffle, computed inside the scan.
  * The only shuffles are the final candidate joins: LSH keys its join on
  * (band, bucket) so cost is O(candidates), never O(n²); the quadratic
  * variants (x04 hamming, x05 cosine) are the small-table verify paths —
  * at scale you run them only on LSH candidates.
  */
object Dedup {

  /** MinHash parameters: K permutations in B bands of R rows.
    * h_i(s) = (a_i * (h60(s) mod P) + b_i) mod P stays < 2^62, so int64
    * arithmetic is identical in Spark and DuckDB; `As`/`Bs` are the
    * family's ([[XHash.minhashA]]/[[XHash.minhashB]]) first K coefficients.
    */
  val K = 16
  val B = 4
  val R = 4
  val As: Seq[Long] = (0 until K).map(XHash.minhashA)
  val Bs: Seq[Long] = (0 until K).map(XHash.minhashB)

  /** Partition width for candidate-generating joins: the session's own
    * shuffle width or the cluster's core count, whichever is larger —
    * scale-adaptive by construction (local[n] ⇒ n; a cluster ⇒ its
    * configured width), never a tuned constant.
    */
  private[xscale] def candidateParallelism(df: DataFrame): Int = {
    val sp = df.sparkSession
    math.max(
      sp.sparkContext.defaultParallelism,
      sp.sessionState.conf.numShufflePartitions)
  }

  /** Round-robin widen a frame that enters a heavy per-row fan-out
    * (n-gram explode, shingle generation) when — and only when — its scan
    * is narrower than the session: a single small parquet file yields one
    * scan task, and the whole fan-out then runs single-threaded however
    * many cores the session has. Gated on the ESTIMATED scan split count,
    * so a corpus-scale source (already wide) is returned untouched and
    * never pays the extra shuffle; the widened rows are the pre-explode
    * originals (ids + text), never the fan-out output.
    */
  private[xscale] def widenNarrowScan(df: DataFrame): DataFrame = {
    val n = candidateParallelism(df)
    if (estimatedScanWidth(df) < n) df.repartition(n) else df
  }

  /** Estimated scan parallelism of `df`'s file source, from the cached
    * file index alone — Spark's own split sizing
    * (`FilePartition.maxSplitBytes`: bytes + per-file open cost, capped by
    * `maxPartitionBytes`, floored so small inputs still spread toward
    * `minPartitionNum` cores) applied to each file-source leaf. The r16
    * form probed `df.rdd.getNumPartitions`, which physically plans (and
    * builds the RDD chain for) the whole subtree a second time per call —
    * driver-side cost that grows with plan complexity at real scale (r16
    * VERDICT ask #9). Non-file leaves (spec-constructed frames) keep the
    * rdd probe as the exact fallback.
    */
  private[xscale] def estimatedScanWidth(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sessionState.conf
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val fileLeaves = leaves.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }
    if (fileLeaves.size != leaves.size) return df.rdd.getNumPartitions
    val openCost = conf.filesOpenCostInBytes
    val maxPart = conf.filesMaxPartitionBytes
    val minPartNum = math.max(
      1,
      conf.filesMinPartitionNum
        .getOrElse(df.sparkSession.sparkContext.defaultParallelism))
    fileLeaves.map { fs =>
      val files = math.max(1L, fs.location.inputFiles.length.toLong)
      val total = math.max(1L, fs.location.sizeInBytes) + files * openCost
      val maxSplit = math.min(maxPart, math.max(openCost, total / minPartNum))
      math.max(1L, (total + maxSplit - 1) / maxSplit)
    }.sum.min(Int.MaxValue.toLong).toInt
  }

  /** Near-dup pairs by pigeonhole-blocked simhash.
    *
    * Narrow (default): one 60-bit fingerprint, 9 blocks (6×7 + 3×6 bits),
    * hamming <= 8 — any qualifying pair differs in at most 8 blocks so it
    * matches exactly on at least one (pigeonhole). Candidates are verified
    * with the exact bit_count, so results are identical to an all-pairs
    * scan — just never O(n^2).
    *
    * Wide (`wide = true`): TWO independent 60-bit words per doc (first and
    * second md5 half of each token — 120-bit fingerprint), 4 blocks of 30
    * bits, hamming <= 3 over the concatenation — the Manku WWW'07 shape.
    * Scale envelope: RANDOM block collisions are ~n²/2^bits per block, so
    * the narrow 6-7-bit blocks stay selective up to n ≈ 10^5 docs per
    * shard (smoke-tested at 50k: 38s, all candidates verified); the wide
    * 30-bit blocks push that to n ≈ 10^6-10^7. The OUTPUT is all-pairs
    * within duplicate clusters (quadratic in cluster size by definition);
    * [[DedupClusters.dedupByPairs]] (x14) collapses pairs to cluster
    * representatives.
    *
    * `minWords` (opt-in; 0 = off, the oracle-pinned default): x28's
    * sketch calibration showed docs shorter than the shingle length can
    * carry perfectly-agreeing sketches at near-zero true Jaccard (one
    * whole-text shingle ⇒ degenerate fingerprints). A length floor keeps
    * such docs OUT of the sketch path — route them to exact dedup (x01)
    * instead, where short texts are cheap to compare exactly.
    */
  def simhashPairs(docs: DataFrame, wide: Boolean = false, minWords: Int = 0): DataFrame = {
    val maxHamming = if (wide) 3 else 8
    val hamming =
      if (wide) expr("CAST(bit_count(sa1 ^ sb1) + bit_count(sa2 ^ sb2) AS BIGINT)")
      else expr("CAST(bit_count(sa1 ^ sb1) AS BIGINT)")
    val in =
      if (minWords <= 0) docs
      else docs.filter(size(XText.words(col("text"))) >= minWords)
    simhashCandidates(in, wide)
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select(col("da").as("doc_id_a"), col("db").as("doc_id_b"), col("hamming"))
      .distinct()
  }

  /** (doc_id, s1[, s2]) fingerprints — the second word exists only in wide
    * mode so narrow candidates don't shuffle a dead column through the
    * (potentially millions-row) block join.
    */
  private def fingerprints(docs: DataFrame, wide: Boolean): DataFrame = {
    val s1 = graftnative.api.simhash60(graftnative.api.tokenHash60(col("text"))).as("s1")
    if (wide)
      docs.select(
        col("doc_id"),
        s1,
        graftnative.api.simhash60(graftnative.api.tokenHash60b(col("text"))).as("s2"))
    else docs.select(col("doc_id"), s1)
  }

  /** Pre-verification candidate pairs from the block equi-join (da < db,
    * fingerprints carried). Package-private so specs can measure block
    * selectivity directly.
    */
  private[xscale] def simhashCandidates(docs: DataFrame, wide: Boolean): DataFrame =
    candidatesFromFingerprints(fingerprints(docs, wide), wide)

  /** Same block equi-join over PRECOMPUTED fingerprints (`doc_id`, `s1`
    * [, `s2`]) — the entry point for callers that persist fingerprints as
    * state (streaming near-dup dedup) instead of recomputing them from
    * text.
    */
  private[graft] def candidatesFromFingerprints(fp: DataFrame, wide: Boolean): DataFrame = {
    val blockCols: Seq[Column] =
      if (wide) {
        val m30 = lit((1L << 30) - 1)
        Seq(
          col("s1").bitwiseAND(m30),
          shiftright(col("s1"), 30).bitwiseAND(m30),
          col("s2").bitwiseAND(m30),
          shiftright(col("s2"), 30).bitwiseAND(m30))
      } else {
        val blockBits = Seq.fill(6)(7) ++ Seq.fill(3)(6)
        val blockOff = blockBits.scanLeft(0)(_ + _).init
        blockBits.zip(blockOff).map { case (bits, off) =>
          shiftright(col("s1"), off).bitwiseAND(lit((1L << bits) - 1))
        }
      }
    val fpCols = if (wide) Seq("s1", "s2") else Seq("s1")
    val blocks = fp.select(
      col("doc_id") +: fpCols.map(col) :+
        posexplode(array(blockCols: _*)).as(Seq("blk", "bv")): _*)
    // Re-key the PROBE side by the block key BEFORE the candidate join
    // (guide §2.3/§2.5): the join's output is QUADRATIC in bucket occupancy
    // while its input is 8-byte fingerprints, so without an explicit
    // exchange the whole pair fan-out + hamming verify runs at the SCAN's
    // parallelism (one small parquet file = one task doing every pair;
    // measured 3.7 s of x04's 4.9 s at sf0.1), and when the planner
    // broadcasts one side AQE has no shuffle left to re-split. The count
    // is EXPLICIT and scale-adaptive (max of cluster parallelism and the
    // configured shuffle width), deliberately opting OUT of AQE
    // coalescing: the r16 VERDICT ask-#2 count-free form was tried and
    // REJECTED by measurement (r17 batch: AQE prices the exchange by its
    // 8-byte-fingerprint input bytes, coalesces it to ~1 partition at
    // sf0.1, and the quadratic fan-out re-serializes — x74_admit_strict
    // 3.58 → 5.39 s, x04 1.03 → 1.52 s, x99/x95/x14/x03 all regressed;
    // numbers in OPTIMIZATION_r17.md). At corpus scale a sort-merge plan
    // needs this exact exchange anyway, so the repartition replaces — not
    // adds to — the planner's own shuffle.
    val n = candidateParallelism(fp)
    def side(pre: String, id: String) = blocks.select(
      col("blk") +: col("bv") +: col("doc_id").as(id) +:
        fpCols.map(c => col(c).as(s"$pre${c.drop(1)}")): _*)
    // Only the PROBE side is repartitioned (r16 VERDICT ask #3 — the
    // both-sides form paid a wasted full shuffle of the build side under
    // its BroadcastExchange): the build side stays broadcast-eligible (the
    // hash-probe generated code is ~4× cheaper per candidate than a
    // sort-merge/shuffled-hash pair-walk, measured at sf0.1), and when the
    // build side outgrows the broadcast threshold the planner's sort-merge
    // fallback inserts its own exchange on that side.
    side("sa", "da").repartition(n, col("blk"), col("bv"))
      .join(side("sb", "db"), Seq("blk", "bv"))
      .filter(col("da") < col("db"))
  }

  /** Aggressive text normalization for exact dedup: lowercase, strip
    * non-alphanumerics, collapse whitespace.
    */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  private[xscale] val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** x50 core: near-dup pairs from BOTH signals — text (simhash pigeonhole
    * blocks, hamming <= `hamming`) unioned with embedding cosine (>= `tau`
    * among WITHIN-K-MEANS-CLUSTER candidates, vec_id keyed to doc_id).
    * The embedding side reuses x30's candidate structure — cluster with the
    * fixed-point quantizer, pair only within clusters — because hyperplane
    * LSH is not selective at dedup-grade thresholds (cos 0.45 ≈ 63°:
    * per-plane agreement ~0.65, so buckets admit ~40% of all pairs), while
    * k-means with corpus-proportional `nc` keeps pair work LINEAR. nc <= 0
    * derives the cluster count from the corpus (oracle-pinned queries pass
    * [[Similarity.NC]]). Feed to [[DedupClusters.dedupByPairs]] for
    * cross-signal-transitive dedup.
    *
    * 100 TB knobs: `trainSample` < 1 trains the quantizer on a
    * deterministic vec_id hash-sample instead of scanning the full corpus
    * every k-means round; a session checkpoint dir
    * ([[graft.Sessions.withCheckpointDir]]) switches the cluster-assignment
    * materialization (and every CC iteration of
    * [[DedupClusters.dedupByPairs]]) from executor-local blocks to reliable
    * storage — the difference between a recoverable and an irrecoverable
    * job on executor loss. Defaults preserve the single-node behavior.
    */
  def jointPairs(
      docs: DataFrame,
      emb: DataFrame,
      hamming: Int = 8,
      tau: Double = 0.45,
      nc: Int = 0,
      trainSample: Double = 1.0): DataFrame = {
    val tp = simhashPairs(docs)
      .filter(col("hamming") <= hamming)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
    tp.unionByName(embClusterPairs(emb, tau, nc, trainSample)).distinct()
  }

  /** x50's embedding-side leg, shared with the x128 agreement audit:
    * cosine >= `tau` pairs among WITHIN-K-MEANS-CLUSTER candidates (x30's
    * candidate structure — see [[jointPairs]] for why k-means beats
    * hyperplane LSH at dedup-grade thresholds). Columns (a, b) = vec_ids.
    */
  private[xscale] def embClusterPairs(
      emb: DataFrame,
      tau: Double,
      nc: Int,
      trainSample: Double = 1.0): DataFrame = {
    val vi = Similarity.fixedPoint(emb)
    val ncEff =
      if (nc > 0) nc
      else math.max(Similarity.NC.toLong, emb.count() / Similarity.TargetClusterSize).toInt
    val asg = DedupClusters.ckpt( // feeds both self-join sides (same rule as x30)
      Similarity.quantizerRanked(vi, Similarity.trainQuantizer(vi, ncEff, trainSample))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("v"), col("nrm")))
    val ea = asg.select(col("cid"), col("vec_id").as("va"), col("v").as("xa"), col("nrm").as("na"))
    val eb = asg.select(col("cid"), col("vec_id").as("vb"), col("v").as("xb"), col("nrm").as("nb"))
    ea.join(eb, Seq("cid"))
      .filter(col("va") < col("vb"))
      .filter(graftnative.api.dot(col("xa"), col("xb")) / (col("na") * col("nb")) >= tau)
      .select(col("va").as("a"), col("vb").as("b"))
  }

  /** x50's embedding leg on IMI PRODUCT CELLS (x138) — the measured
    * closing of the flat-assignment cap: the same within-cell cosine
    * pairing as [[embClusterPairs]], but the cell comes from two
    * half-space codebooks of `ncHalf` centroids each (ncHalf² cells at
    * n·2·ncHalf assignment evals, vs the flat quantizer's n·nc evals for
    * nc cells). With ncHalf = [[Similarity.imiAutoNc]] (√(n/64)), cells
    * track the corpus while per-vector assignment cost grows only as
    * √cells — O(n^1.5)-ish total instead of the flat auto-nc's O(n²/64).
    * Recall trade vs flat k-means cells: a near-dup pair is a candidate
    * iff it agrees in BOTH half-space cells (product-grid split risk —
    * x138's n_cells/max_share audit prices it; identical vectors always
    * agree). Columns (a, b) = vec_ids.
    */
  private[xscale] def embImiPairs(
      emb: DataFrame,
      tau: Double,
      ncHalf: Int = 0,
      trainSample: Double = 1.0): DataFrame = {
    val ncEff =
      if (ncHalf > 0) ncHalf
      else Similarity.imiAutoNc(emb.count())
    val cells = Similarity.imiAssign(emb, ncEff, trainSample)
    val asg = DedupClusters.ckpt( // feeds both self-join sides (the x30 rule)
      cells.join(Similarity.withNorm(emb), "vec_id"))
    val ea = asg.select(col("cell"), col("vec_id").as("va"), col("v").as("xa"), col("nrm").as("na"))
    val eb = asg.select(col("cell"), col("vec_id").as("vb"), col("v").as("xb"), col("nrm").as("nb"))
    ea.join(eb, Seq("cell"))
      .filter(col("va") < col("vb"))
      .filter(graftnative.api.dot(col("xa"), col("xb")) / (col("na") * col("nb")) >= tau)
      .select(col("va").as("a"), col("vb").as("b"))
  }

  /** [[jointPairs]] with the embedding leg on IMI product cells — the
    * 100 TB posture where even the coarse quantizer's assignment must not
    * scan nc ∝ corpus centroids per vector. Text leg unchanged.
    */
  /** The text-side near-dup detector for the joint (x50) graph. The
    * narrow simhash pigeonhole is the oracle currency but its 6-7-bit
    * blocks hold n/2^7 docs per bucket value — quadratic by construction
    * past ~1e5 docs/shard. Past that boundary pick one of the two
    * measured scale postures: [[SimhashWideLeg]] (x15's 120-bit blocks —
    * high precision, hamming ≤ 3, misses looser paraphrase pairs) or
    * [[MinhashLeg]] (x02's banded MinHash-LSH — the band key is an md5
    * over 4 signature values, an effectively unbounded keyspace, so
    * bucket occupancy tracks TRUE similarity instead of corpus size).
    */
  sealed trait TextLeg
  case object SimhashLeg extends TextLeg
  case object SimhashWideLeg extends TextLeg
  case object MinhashLeg extends TextLeg

  /** Text near-dup pairs (a, b) under the chosen [[TextLeg]]; `hamming`
    * applies to the narrow leg only (the wide and minhash legs carry
    * their own calibrated decision thresholds).
    */
  def textLegPairs(docs: DataFrame, leg: TextLeg, hamming: Int = 8): DataFrame =
    (leg match {
      case SimhashLeg => simhashPairs(docs).filter(col("hamming") <= hamming)
      case SimhashWideLeg => simhashPairs(docs, wide = true)
      case MinhashLeg => minhashPairs(docs)
    }).select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))

  def jointPairsImi(
      docs: DataFrame,
      emb: DataFrame,
      hamming: Int = 8,
      tau: Double = 0.45,
      ncHalf: Int = 0,
      trainSample: Double = 1.0,
      textLeg: TextLeg = SimhashLeg): DataFrame =
    textLegPairs(docs, textLeg, hamming)
      .unionByName(embImiPairs(emb, tau, ncHalf, trainSample))
      .distinct()

  /** Joint multi-signal dedup (x50): one survivor per connected component
    * of the UNION of text-near-dup (simhash) and embedding-near-dup
    * (cosine) pairs — transitivity works across signals. On a real
    * cluster pass `trainSample` and run under a checkpoint dir (see
    * [[jointPairs]]): the dir then covers the cluster assignment AND each
    * CC iteration.
    */
  def jointDedup(docs: DataFrame, emb: DataFrame,
      hamming: Int = 8, tau: Double = 0.45,
      trainSample: Double = 1.0): DataFrame =
    DedupClusters.dedupByPairs(docs, jointPairs(docs, emb, hamming, tau, trainSample = trainSample))

  /** [[jointDedup]] with the embedding leg's candidate cells from the
    * x138 IMI product quantizer instead of flat k-means: the coarse
    * assignment drops from O(n·nc) (nc ∝ corpus under auto-nc — the
    * named 100× cap) to O(n·2√cells), with x138's cell-health audit
    * pricing the product-grid recall trade. The text leg and the CC
    * survivor selection are unchanged.
    */
  def jointDedupImi(docs: DataFrame, emb: DataFrame,
      hamming: Int = 8, tau: Double = 0.45,
      ncHalf: Int = 0,
      trainSample: Double = 1.0,
      textLeg: TextLeg = SimhashLeg): DataFrame =
    DedupClusters.dedupByPairs(
      docs,
      jointPairsImi(docs, emb, hamming, tau, ncHalf,
        trainSample = trainSample, textLeg = textLeg))

  /** x47 core: per unordered source pair, the number of exact-dup groups
    * (normalized-text key) containing docs of both sources. Columns
    * (source_a, source_b, n_groups).
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val g = docs
      .select(XHash.h60(normText(col("text"))).as("key"), col("source"))
      .distinct()
    val a = g.select(col("key"), col("source").as("source_a"))
    val b = g.select(col("key"), col("source").as("source_b"))
    a.join(b, "key")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_groups"))
  }

  /** doc_id + 60-bit hashes of the doc's distinct word-3-gram shingles
    * (native codegen expression — one pass, no interpreted lambdas).
    */
  private def shingleHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graftnative.api.shingleHash60(col("text"), 3).as("hs"))

  /** Per-doc MinHash signature columns sig0..sig{K-1} (one fused native
    * pass over the shingle hashes — per-row, shuffle-free).
    */
  def withSignature(docs: DataFrame): DataFrame = {
    val hs = shingleHashes(docs)
      .withColumn("_sig", graftnative.api.minhashSig(col("hs"), K))
    val sigs = (0 until K).map(i => col("_sig")(i).as(s"sig$i"))
    hs.select(col("doc_id") +: sigs: _*)
  }

  /** Shared SQL prefix: shingle → hash → signature CTEs for the oracle.
    * `src` is the relation to read, `suf` suffixes every CTE name so two
    * chains (e.g. x74's batch + corpus) can coexist in one query.
    */
  private def sigSqlCtesFor(src: String, suf: String): String = {
    val ws = XText.wordsSql("text")
    val sh = XText.shinglesSql("ws", 3)
    val sigExprs = (0 until K)
      .map(i =>
        s"list_aggregate(list_transform(hl, h -> (${As(i)} * (h % $P) + ${Bs(i)}) % $P), 'min')")
      .mkString(", ")
    s"w$suf AS (SELECT doc_id, $ws AS ws FROM $src), " +
      s"sh$suf AS (SELECT doc_id, $sh AS ss FROM w$suf), " +
      s"hs$suf AS (SELECT doc_id, list_transform(ss, sgl -> ${h60Sql("sgl")}) AS hl FROM sh$suf), " +
      s"sig$suf AS (SELECT doc_id, [$sigExprs] AS sig FROM hs$suf)"
  }
  private def sigSqlCtes: String = sigSqlCtesFor("documents", "")

  /** x74 core: incremental ADMISSION dedup — classify an arriving batch
    * against an existing corpus without touching the corpus's own dedup
    * state, the daily-ingest posture (a full x01/x02 re-run over
    * corpus+batch would re-shuffle 100 TB to admit a few GB). Statuses, in
    * priority order:
    *  - `dup_exact_corpus`: the doc's norm key already exists in the
    *    corpus (anti-joinable admission filter);
    *  - `dup_exact_batch`: key is new to the corpus but an earlier batch
    *    doc (hash arrival order, doc_id ties) claimed it;
    *  - `near_dup_corpus`: key is new but the doc shares a MinHash band
    *    bucket with a corpus doc AND >= minMatch of K minhashes agree
    *    (the x02 decision rule, batch x corpus only — never corpus x
    *    corpus);
    *  - `admitted`: none of the above.
    *
    * Scale posture (100 TB): corpus-side work is one key projection + one
    * signature scan, both shuffled on 8-byte keys; every join is
    * batch-vs-corpus (candidate-bounded), and nothing re-clusters or
    * re-packs the existing corpus. Columns (doc_id, key, status).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, minMatch: Int = K / 2): DataFrame =
    incrementalDedupSigs(dedupSignatures(corpus), dedupSignatures(batch), minMatch)

  /** The persistable DEDUP STATE of a doc set: (doc_id, key, sig) — the
    * 60-bit normalized-text key (exact leg) and the K-minhash signature
    * array (near leg). One per-row pass over the text; everything
    * [[incrementalDedupSigs]] needs, so a pipeline that persists this
    * frame beside the corpus (`Cli admit --sigs`) classifies tomorrow's
    * batch without ever re-reading or re-hashing 100 TB of corpus text —
    * the frozen-index pattern (x79's IVFPQ add) applied to dedup state.
    */
  def dedupSignatures(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      h60(normText(col("text"))).as("key"),
      graftnative.api.minhashSig(
        graftnative.api.shingleHash60(col("text"), 3), K).as("sig"))

  /** [[incrementalDedup]] on PRECOMPUTED [[dedupSignatures]] frames —
    * byte-identical statuses (spec-pinned), zero text access. The corpus
    * side is the persisted sidecar; the batch side is one signature pass
    * over the arriving docs.
    */
  def incrementalDedupSigs(
      corpusSigs: DataFrame,
      batchSigs: DataFrame,
      minMatch: Int = K / 2): DataFrame = {
    val ord = XHash.h60(col("doc_id").cast("string"))
    val ckeys = corpusSigs.select(col("key")).distinct()
      .withColumn("in_corpus", lit(true))
    val ranked = batchSigs
      .select(col("doc_id"), col("key"), ord.as("ord"))
      .withColumn("rn", row_number().over(Window.partitionBy("key").orderBy("ord", "doc_id")))
      .join(ckeys, Seq("key"), "left")
    // the near leg: the cross form of the band join, batch x corpus
    val cb = Lsh.bandRows(corpusSigs, Lsh.minhashBandKeys(col("sig")), col("sig").as("sb"))
    val near = Lsh.crossPairs(sigBands(batchSigs), cb,
      Seq(col("doc_id"), Lsh.nMatch(col("sig"), col("sb")).as("nm")))
      .groupBy("doc_id").agg(max("nm").as("nm"))
      .filter(col("nm") >= minMatch)
      .select(col("doc_id")).withColumn("near", lit(true))
    ranked.join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("key"),
        when(coalesce(col("in_corpus"), lit(false)), "dup_exact_corpus")
          .when(col("rn") >= 2, "dup_exact_batch")
          .when(coalesce(col("near"), lit(false)), "near_dup_corpus")
          .otherwise("admitted").as("status"))
  }

  /** The admission status OVERLAY shared by every signal leg on both the
    * batch verb and StreamingAdmit: docs in `demoted` (doc_id, status; one
    * row per doc) that are STILL 'admitted' in `st` take its status; every
    * other row is untouched. One definition so the two surfaces can never
    * diverge on the overlay semantics (the admitted-only guard is what
    * makes the legs a waterfall, not a vote). `demoted` names batch docs
    * only, so it is broadcast (the batch-bounded rationale of the emb
    * compare's batch side).
    */
  def restatus(st: DataFrame, demoted: DataFrame): DataFrame =
    st.join(broadcast(demoted.select(col("doc_id"), col("status").as("_to"))),
      Seq("doc_id"), "left")
      .withColumn(
        "status",
        when(col("status") === "admitted" && col("_to").isNotNull, col("_to"))
          .otherwise(col("status")))
      .drop("_to")

  /** The [[Lsh.bandRows]] of a (doc_id, sig) frame under
    * [[Lsh.minhashBandKeys]]. Columns (doc_id, sig, band, key).
    */
  private def sigBands(sigs: DataFrame): DataFrame =
    Lsh.bandRows(sigs, Lsh.minhashBandKeys(col("sig")), col("doc_id"), col("sig"))

  /** The x74-STRICT refinement: near-dup CC WITHIN the admitted set over
    * precomputed signatures — the one case the batch-vs-corpus rule is
    * structurally blind to (two near-dups arriving together are both
    * admitted, both in the corpus forever). Cluster losers re-status as
    * `near_dup_batch`, mirroring `dup_exact_batch` one level up the dup
    * hierarchy; shared by `Cli admit --strict`, the registered
    * `x74_admit_strict` query and [[graft.streaming.StreamingAdmit]].
    * Batch-sized work: pairs and CC touch only the admitted docs' sigs.
    * The composition of its two halves: [[admitStrictEdges]] over the
    * admitted docs' sigs, then [[DedupClusters.minIdLosers]].
    */
  def admitStrict(
      st: DataFrame,
      batchSigs: DataFrame,
      minMatch: Int = K / 2): DataFrame = {
    val admSigs = batchSigs
      .join(st.filter(col("status") === "admitted").select("doc_id"), "doc_id")
    val losers = DedupClusters.minIdLosers(admitStrictEdges(admSigs, minMatch))
    restatus(st, losers.withColumn("status", lit("near_dup_batch")))
  }

  /** The edge half of [[admitStrict]]: the near-dup pairs `(a, b)`, a < b,
    * of [[minhashPairsSigs]] over `sigs`. A pair qualifies on its two
    * signatures alone, so the edges among any subset of `sigs` are exactly
    * these edges with both ends in that subset.
    */
  def admitStrictEdges(sigs: DataFrame, minMatch: Int = K / 2): DataFrame =
    minhashPairsSigs(sigs, minMatch).select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))

  /** Sidecar COMPACTION — reconcile a persisted [[dedupSignatures]] frame
    * with the live corpus: keep one signature row per doc_id that still
    * EXISTS in `live`, drop the rest. The two ways an append-only sidecar
    * drifts from the corpus it models: (1) docs REMOVED by a later
    * re-filter/re-dedup leave stale signatures behind, and a stale
    * signature POISONS admission — tomorrow's copy of a deleted doc is
    * rejected as a dup of content the corpus no longer has; (2) a
    * retried append can land the same doc's signature twice (harmless
    * for classification — the rows are identical, dedupSignatures is
    * deterministic in the text — but paid on every sidecar scan).
    * One left_semi join on the 8-byte doc_id (the corpus contributes ID
    * PROJECTION only — never text) + one keep-one-per-id shuffle.
    *
    * Identity model: doc_id names IMMUTABLE content — the admit flow
    * never rewrites a doc's text under the same id (revision = remove +
    * re-admit under a new id), so same-id rows are byte-identical and
    * the keep-one tiebreak (min key) is arbitrary-but-safe. If an
    * upstream system mutates text in place, re-bootstrap the sidecar
    * instead of compacting it.
    */
  def compactSignatures(sigs: DataFrame, live: DataFrame): DataFrame =
    graft.lake.Lake.dedupKeepFirst(
      sigs.join(live.select("doc_id"), Seq("doc_id"), "left_semi"),
      Seq("doc_id"), Seq("key"))

  /** [[minhashPairs]] on a PRECOMPUTED [[dedupSignatures]] frame — the
    * within-set near-dup pair stream with zero text access, for callers
    * that already hold signatures (`Cli admit --strict` runs it on the
    * admitted docs' sigs to catch near-dup pairs arriving TOGETHER in one
    * batch, which the batch-vs-corpus decision rule cannot see): [[Lsh]]'s
    * self form over the signatures' band rows. Columns (doc_id_a,
    * doc_id_b, n_match); decision threshold as [[minhashPairs]].
    */
  def minhashPairsSigs(sigs: DataFrame, minMatch: Int = K / 2): DataFrame = {
    val (a, b) = Lsh.sides(sigBands(sigs), "doc_id", "sig")
    minhashSelfPairs(a, b).filter(col("n_match") >= minMatch)
  }

  /** The text MinHash self form: [[Lsh.selfPairs]] over [[Lsh.sides]] of
    * [[sigBands]], scored by [[Lsh.nMatch]]. Columns (doc_id_a, doc_id_b,
    * n_match).
    */
  private def minhashSelfPairs(a: DataFrame, b: DataFrame): DataFrame =
    Lsh.selfPairs(a, b, col("a").as("doc_id_a"), col("b").as("doc_id_b"),
      Lsh.nMatch(col("sig_a"), col("sig_b")).as("n_match"))

  /** Exact dedup: one survivor (min tie-break) per normalized-text group. */
  def dedupExact(docs: DataFrame): DataFrame =
    graft.lake.Lake
      .dedupKeepFirst(docs.withColumn("_norm", normText(col("text"))), Seq("_norm"), Seq("doc_id"))
      .drop("_norm")

  /** x99 core: stage-attributed dedup CASCADE — exact dedup first, simhash
    * near-dup (x14's pairs → connected components) on the exact survivors,
    * with removals attributed per stage and per source. The cheap stage
    * runs first so the expensive stage sees a strictly smaller corpus —
    * the ordering every production dedup pipeline uses — and the waterfall
    * (n_docs → removed_exact → removed_near → n_final) is the report that
    * tells the owner which stage did the work. Columns
    * (source, n_docs, removed_exact, removed_near, n_final).
    *
    * Scale posture (100 TB): stage 1 is one WindowGroupLimit shuffle keyed
    * on the 60-bit norm hash; stage 2 inherits the simhash pigeonhole
    * candidate join + label-prop CC posture (everything bucketed, no
    * all-pairs); the final accounting is three |sources|-row aggregates
    * joined broadcast. The exact-survivor frame is re-derived per consumer
    * rather than cached — one extra WindowGroupLimit shuffle is cheaper
    * than pinning a corpus-sized frame in executor memory.
    */
  def dedupCascade(docs: DataFrame, textLeg: TextLeg = SimhashLeg): DataFrame =
    cascadeOver(docs, dedupExact(docs), textLeg)

  private def cascadeOver(docs: DataFrame, exact: DataFrame, textLeg: TextLeg): DataFrame = {
    val pairs = textLegPairs(exact, textLeg)
    val base = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val exs = exact.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val fin = DedupClusters.dedupByPairs(exact, pairs)
      .groupBy("source").agg(count(lit(1)).as("n_final"))
    base.join(exs, Seq("source"), "left").join(fin, Seq("source"), "left")
      .na.fill(0L, Seq("n_exact", "n_final"))
      .select(
        col("source"), col("n_docs"),
        (col("n_docs") - col("n_exact")).as("removed_exact"),
        (col("n_exact") - col("n_final")).as("removed_near"),
        col("n_final"))
  }

  /** The corpus size past which [[SimhashLeg]]'s candidate generation is
    * structurally quadratic: its 6-7-bit pigeonhole blocks hold n/128
    * docs per bucket value, so candidate mass is ~9·128·C(n/128, 2) ≈
    * n²/28 regardless of content — ~3.6e8 rows at 1e5 docs (workable),
    * ~3.6e10 at 1e6 (not). Shard to this size or switch legs.
    *
    * NOT the same knob as [[Similarity.FlatEmbBoundary]], though both are
    * numerically 1e5: this one prices BLOCK CAPACITY of the narrow-simhash
    * pigeonhole (candidate-row mass in a bucketed self-join, measured on
    * the 100×-smoke power-law fixture — SURVEY §7.4), that one prices the
    * flat coarse quantizer's ASSIGNMENT cost (n·nc distance evals under
    * corpus-proportional auto-nc, measured as a bootstrap abort at 200k
    * vectors). They drift independently if K/B/R or TargetClusterSize
    * change — do not fold them into one constant.
    */
  val NarrowSimhashBoundary = 100000L

  /** The text-leg auto rule: narrow simhash (the oracle currency, best
    * recall at hamming ≤ 8) within its structural boundary, banded
    * MinHash-LSH past it. Callers that know their corpus size pick
    * directly; pipeline code that has just materialized a stage boundary
    * (so the count is one cheap action on a checkpoint) uses this.
    */
  def textLegFor(nDocs: Long): TextLeg =
    if (nDocs > NarrowSimhashBoundary) MinhashLeg else SimhashLeg

  /** [[dedupCascade]] with the near-dup leg chosen by [[textLegFor]] on
    * the EXACT-survivor count — the form that holds at any corpus size.
    * Costs one count() action over the exact-survivor frame before the
    * plan builds (one norm-key shuffle — the same shuffle the cascade
    * pays anyway, and on a real cluster the survivors are a checkpointed
    * stage boundary, making the count a metadata read).
    */
  def dedupCascadeAuto(docs: DataFrame): DataFrame = {
    val cut = DedupClusters.ckpt(docs)
    // materialize the exact survivors ONCE: the leg-choosing count and
    // the cascade's three consumers all read the same checkpoint
    val exact = DedupClusters.ckpt(dedupExact(cut))
    cascadeOver(cut, exact, textLegFor(exact.count()))
  }

  /** x105 core: cross-source NEAR-dup matrix — x47's "who copies whom"
    * audit lifted from exact-dup groups to the simhash near-dup graph:
    * every [[simhashPairs]] pair (60-bit simhash, hamming ≤ 8) is
    * attributed to its (source_a ≤ source_b) cell. Exact re-hosting
    * shows up at hamming 0; light paraphrase/boilerplate edits land in
    * the same cells where exact matching goes blind — which is exactly
    * the aggregator shape licensing review needs to see. Columns
    * (source_a, source_b, n_pairs).
    *
    * Scale posture (100 TB): rides the pigeonhole-bucketed pair join
    * (never all-pairs); source attribution is two hash joins on the
    * 8-byte doc_id; the matrix is |sources|² rows — driver-size.
    */
  def crossSourceNearDup(docs: DataFrame): DataFrame = {
    val pairs = simhashPairs(docs)
    val sa = docs.select(col("doc_id").as("doc_id_a"), col("source").as("sa"))
    val sb = docs.select(col("doc_id").as("doc_id_b"), col("source").as("sb"))
    pairs.join(sa, "doc_id_a").join(sb, "doc_id_b")
      .select(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** x94 core: survivor REGRET — does keep-first dedup throw away the best
    * copy? For every near-dup cluster (connected component of `pairs`),
    * compare the kept doc's quality (the min-doc_id survivor rule x14
    * ships) against the cluster's best: regret_e4 = best - kept, plus the
    * kept_is_best flag. `score` is a per-doc (doc_id, score_e4) frame —
    * the registered query passes x09's quality. Nonzero total regret is
    * the case for [[DedupClusters.dedupByPairsKeepBest]], the
    * quality-aware survivor rule.
    *
    * Scale posture (100 TB): rides the dedup's own CC output (the pair
    * graph is tiny next to the corpus); one join to the score table and
    * one component-keyed aggregate — no window, no global sort.
    */
  def survivorRegret(pairs: DataFrame, score: DataFrame): DataFrame =
    DedupClusters.connectedComponents(pairs)
      .join(score.select(col("doc_id").as("id"), col("score_e4")), "id")
      .groupBy("component")
      .agg(
        count(lit(1)).as("n_docs"),
        max(when(col("id") === col("component"), col("score_e4"))).as("kept_score_e4"),
        max("score_e4").as("best_score_e4"))
      .withColumn("regret_e4", col("best_score_e4") - col("kept_score_e4"))
      .withColumn("kept_is_best", col("best_score_e4") === col("kept_score_e4"))

  /** x87 core: per-source dedup SURVIVORSHIP — who pays for exact dedup.
    * Under x01's keep-first rule (owner = min doc_id per norm key), each
    * source reports docs in, kept, dropped, and the dropped split by
    * whether the surviving owner lives in the SAME source (internal
    * redundancy) or a DIFFERENT one (content the source re-hosts — the
    * aggregator signal; x47 gives the pairwise matrix, this gives the
    * per-source bill). drop_e6 = e6 drop rate.
    *
    * Scale posture (100 TB): one groupBy on the 8-byte norm key with
    * min/min_by (map-side combinable) and one join back on the same key —
    * the identical shuffle shape as the dedup itself, so the audit rides
    * the pass it measures; output is |sources| rows.
    */
  def dedupSurvivorship(docs: DataFrame): DataFrame = {
    val g = docs.select(col("doc_id"), col("source"), h60(normText(col("text"))).as("key"))
    val own = g.groupBy("key").agg(
      min("doc_id").as("owner_id"),
      expr("min_by(source, doc_id)").as("owner_src"))
    g.join(own, "key")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("owner_id"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("doc_id") =!= col("owner_id"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("doc_id") =!= col("owner_id") && col("source") === col("owner_src"), 1L)
          .otherwise(0L)).as("lost_internal"),
        sum(when(col("doc_id") =!= col("owner_id") && col("source") =!= col("owner_src"), 1L)
          .otherwise(0L)).as("lost_external"),
        expr("(1000000 * sum(CASE WHEN doc_id <> owner_id THEN 1 ELSE 0 END)) div count(*)")
          .as("drop_e6"))
  }

  /** MinHash-LSH near-dup pairs: candidates share >= 1 of B band buckets,
    * kept when >= `minMatch` of K minhashes agree (default K/2; pass 0 for
    * ALL band-collision candidates, e.g. for sketch calibration). Columns
    * (doc_id_a, doc_id_b, n_match). `minWords` floors doc length before
    * sketching (see [[simhashPairs]] — x28 calibration rationale).
    */
  def minhashPairs(docs: DataFrame, minMatch: Int = K / 2, minWords: Int = 0): DataFrame =
    minhashCandidates(docs, minWords)
      .filter(col("n_match") >= minMatch)

  /** ALL MinHash band-collision candidates ([[Lsh]]'s self form) with
    * their signature agreement count, BEFORE the `minMatch` decision
    * threshold — the raw candidate stream [[minhashPairs]] filters and the
    * x121 fidelity audit scores. Columns (doc_id_a, doc_id_b, n_match).
    */
  private[xscale] def minhashCandidates(docs: DataFrame, minWords: Int = 0): DataFrame = {
    val in =
      if (minWords <= 0) docs
      else docs.filter(size(XText.words(col("text"))) >= minWords)
    val bands = sigBands(shingleHashes(in).select(col("doc_id"),
      graftnative.api.minhashSig(col("hs"), K).as("sig")))
    val (a, b) = Lsh.sides(bands, "doc_id", "sig")
    // probe side re-keyed by the band key (the simhash-block rule): the
    // collision fan-out must not run at scan parallelism. Explicit count
    // on purpose — the count-free form was measured and rejected (AQE
    // coalesces the byte-tiny exchange and re-serializes the fan-out; see
    // candidatesFromFingerprints).
    minhashSelfPairs(a.repartition(candidateParallelism(bands), col("band"), col("key")), b)
  }

  /** Exact Jaccard >= num/den over distinct word-k-gram sets, in integer
    * arithmetic. Columns (doc_id_a, doc_id_b, n_inter, n_a, n_b). The
    * verify path: at scale run it on LSH candidates, not the full
    * self-join.
    */
  def jaccardPairs(docs: DataFrame, k: Int = 3, num: Int = 3, den: Int = 10): DataFrame = {
    val shd = docs
      .select(col("doc_id"), explode(graftnative.api.shingleHash60(col("text"), k)).as("sgl"))
    val sz = shd.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // probe side re-keyed by the shingle hash (the simhash-block rule):
    // the per-shingle pair fan-out must not run at scan parallelism.
    // Explicit count on purpose — the count-free form was measured and
    // rejected (see candidatesFromFingerprints).
    val inter = shd.repartition(candidateParallelism(shd), col("sgl")).as("a")
      .join(shd.as("b"), col("a.sgl") === col("b.sgl") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    val sa = sz.select(col("doc_id").as("da"), col("n").as("n_a"))
    val sb = sz.select(col("doc_id").as("db"), col("n").as("n_b"))
    inter.join(sa, "da").join(sb, "db")
      .filter(lit(den) * col("i") >= lit(num) * (col("n_a") + col("n_b") - col("i")))
      .select(
        col("da").as("doc_id_a"),
        col("db").as("doc_id_b"),
        col("i").as("n_inter"),
        col("n_a"),
        col("n_b"))
  }

  /** Directional containment |A∩B|/|A| >= num/den over distinct word-k-gram
    * sets. Columns (doc_id_a, doc_id_b, n_inter, n_a) — a is the contained
    * doc.
    */
  def containmentPairs(docs: DataFrame, k: Int = 4, num: Int = 8, den: Int = 10): DataFrame = {
    val shd = docs
      .select(col("doc_id"), explode(graftnative.api.shingleHash60(col("text"), k)).as("sgl"))
    val sz = shd.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = shd.as("a")
      .join(shd.as("b"), col("a.sgl") === col("b.sgl") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    inter.join(sz.select(col("doc_id").as("da"), col("n").as("n_a")), "da")
      .filter(lit(den) * col("i") >= lit(num) * col("n_a"))
      .select(
        col("da").as("doc_id_a"),
        col("db").as("doc_id_b"),
        col("i").as("n_inter"),
        col("n_a"))
  }

  /** x121 core: MinHash-LSH FIDELITY audit — the measured S-curve behind
    * the x02 dedup path's two knobs (band structure, `minMatch`): every
    * band-collision candidate is scored against EXACT word-3-gram Jaccard
    * (x03's ≥ 3/10 rule), grouped by its signature agreement count
    * n_match. Per n_match: candidates, true near-dups among them, and
    * precision_e6 — read the curve to see where the decision threshold
    * should sit (x02 uses K/2 = 8). One extra summary row with
    * `n_match = -1` reports RECALL: n_cands = |true pairs|, n_true =
    * |true pairs that band-collide at all|, prec_e6 = recall_e6 — the
    * pairs LSH can never recover no matter the threshold. The dedup
    * analog of x113's ANN recall: the audit that justifies the sketch.
    * Columns (n_match, n_cands, n_true, prec_e6).
    *
    * Scale posture (100 TB): the exact-Jaccard leg is the declared
    * exactness baseline (intersection-driven shingle join — affordable at
    * audit SF; at open-web scale run it on a DOC SAMPLE via `sampleMod`,
    * the x113 pattern: fidelity is a statistical estimate, its cost must
    * not scale with the corpus). `sampleMod = m` audits only docs with
    * doc_id ≡ 0 (mod m) — BOTH legs run on the sample, so the estimate is
    * exactly `lshFidelity(docs.filter(doc_id % m = 0))` (spec-pinned) and
    * total cost shrinks ~m² on the quadratic truth leg. The default 1 is
    * the oracle-exact full audit. The candidate leg is x02's own banded
    * join; the score join is keyed on the pair; output is ≤ K+2 rows.
    */
  def lshFidelity(docs: DataFrame, sampleMod: Long = 1L): DataFrame = {
    val in = if (sampleMod <= 1L) docs else docs.filter(col("doc_id") % sampleMod === 0)
    val cands = minhashCandidates(in)
      .select(col("doc_id_a").as("da"), col("doc_id_b").as("db"), col("n_match"))
    val truth = jaccardPairs(in)
      .select(col("doc_id_a").as("da"), col("doc_id_b").as("db"))
    val scored = cands.join(
      truth.withColumn("is_true", lit(1L)), Seq("da", "db"), "left")
      .na.fill(0L, Seq("is_true"))
    val byMatch = scored.groupBy("n_match")
      .agg(count(lit(1)).as("n_cands"), sum("is_true").as("n_true"))
      .withColumn("prec_e6", expr("(1000000 * n_true) div n_cands"))
    val hit = truth.join(cands.select("da", "db").distinct(), Seq("da", "db"), "left_semi")
    val summary = truth.agg(count(lit(1)).as("n_cands"))
      .crossJoin(hit.agg(count(lit(1)).as("n_true")))
      .select(
        lit(-1L).as("n_match"), col("n_cands"), col("n_true"),
        expr("CASE WHEN n_cands > 0 THEN (1000000 * n_true) div n_cands ELSE 0 END")
          .as("prec_e6"))
    byMatch.unionByName(summary)
  }

  /** x122 core: dedup CLUSTER-DIAMETER audit — the transitive-chaining
    * check on x14's connected components: CC merges a~b and b~c into one
    * cluster even when a and c are NOT near-dups, and on a chain-heavy
    * corpus (version histories, quote threads) that silently over-merges
    * — the survivor stands in for docs arbitrarily far from it. Per
    * cluster size: cluster count, CHAINED clusters (some within-cluster
    * pair has simhash hamming > the pair threshold 8 — only transitivity
    * put them together), the worst within-cluster hamming, direct edges
    * vs all within-cluster pairs (sum_edges / sum_pairs — edge density;
    * a clique-like cluster is a true duplicate pile, a sparse one is a
    * chain). Columns (size, n_clusters, n_chained, max_diam, sum_edges,
    * sum_pairs). High n_chained ⇒ tighten the threshold or split
    * clusters by re-verifying pairs against the survivor (star check).
    *
    * Scale posture (100 TB): pairs and CC inherit x04/x14's bucketed
    * posture; the diameter leg joins each cluster's fingerprints to
    * itself — quadratic in CLUSTER size only (the frames CC already
    * bounded), never the corpus. `maxClusterSize` is the mega-cluster
    * escape hatch: clusters larger than the cap are SAMPLED down to cap
    * members (deterministic — row_number over h60(id), the WindowGroupLimit
    * top-k shape, so the shuffle carries cap rows per component, not the
    * cluster) before the self-join; a 1M-doc component then costs
    * cap·(cap−1)/2 pairs instead of 5·10¹¹. The reported `size` stays the
    * TRUE cluster size and `n_capped` counts the size row's sampled
    * clusters, so a capped audit is visibly an estimate (diam/edges are
    * lower bounds there). Default [[NoCap]] = exact, the oracle pin.
    * Final rollup is |distinct sizes| rows.
    */
  def clusterDiameter(
      docs: DataFrame,
      maxClusterSize: Long = NoCap,
      wide: Boolean = false): DataFrame = {
    // cap 1 would leave no within-cluster pairs at all — every cluster
    // silently vanishes from the rollup's inner join. Refuse loudly.
    require(maxClusterSize >= 2, s"maxClusterSize must be >= 2, got $maxClusterSize")
    // `wide` switches CANDIDATE GENERATION to the 120-bit form (x15) —
    // the documented >1e5-docs/shard posture, where the narrow 6-7-bit
    // pigeonhole blocks are quadratic by construction (n/2^7 docs per
    // bucket value). The audit METRIC (diam/n_edges) stays in x04's
    // 60-bit hamming currency either way, so capped rollups remain
    // comparable across the switch.
    val fp = fingerprints(docs, wide = false).select(col("doc_id").as("id"), col("s1"))
    val pairs = simhashPairs(docs, wide = wide)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
    val labels = DedupClusters.connectedComponents(pairs)
    val m0 = labels.join(fp, "id")
    val m =
      if (maxClusterSize >= Long.MaxValue) m0
      else m0
        .withColumn("rn", row_number().over(
          Window.partitionBy("component").orderBy(h60(col("id").cast("string")), col("id"))))
        .filter(col("rn") <= maxClusterSize)
        .drop("rn")
    val within = m.select(col("component"), col("id").as("ia"), col("s1").as("fa"))
      .join(m.select(col("component"), col("id").as("ib"), col("s1").as("fb")), Seq("component"))
      .filter(col("ia") < col("ib"))
      .withColumn("ham", expr("CAST(bit_count(fa ^ fb) AS BIGINT)"))
    val perCluster = within.groupBy("component").agg(
      count(lit(1)).as("n_pairs"),
      max("ham").as("diam"),
      sum(when(col("ham") <= 8, 1L).otherwise(0L)).as("n_edges"))
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("size"))
    sizes.join(perCluster, "component")
      .groupBy("size")
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(when(col("diam") > 8L, 1L).otherwise(0L)).as("n_chained"),
        max("diam").as("max_diam"),
        sum("n_edges").as("sum_edges"),
        sum("n_pairs").as("sum_pairs"))
      .withColumn("n_capped",
        if (maxClusterSize >= Long.MaxValue) lit(0L)
        else when(col("size") > maxClusterSize, col("n_clusters")).otherwise(lit(0L)))
  }

  /** Sentinel for [[clusterDiameter]]'s per-cluster cap: audit exactly. */
  val NoCap: Long = Long.MaxValue

  /** Per-cluster member cap for the registered capped twin
    * (x122_cluster_diameter_capped): small enough that the fixture's dup
    * clusters actually exercise the sampling path at every SF.
    */
  val DiamCap = 3L

  /** Doc-sample modulus for the registered sampled-fidelity twin
    * (x121_lsh_fidelity_sampled): 2 keeps the fixture's estimate
    * non-degenerate at every SF; the 10x battery thins further (mod 10).
    */
  val FidelityMod = 2L

  /** The full x121 oracle over `src` (a relation or parenthesized
    * subquery): banded candidates + exact-Jaccard truth + S-curve rollup.
    * Parameterized by source so the sampled twin is the SAME query over a
    * pre-filtered corpus — the identity the Spark-side knob is pinned to.
    */
  private def fidelitySql(src: String): String = {
    s"WITH ${sigSqlCtesFor(src, "")}, " +
      s"${Lsh.minhashBandsSql("bk", "sig")}, " +
      "cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, " +
      s"${Lsh.nMatchSql("a", "b")} AS n_match " +
      "FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id), " +
      "shd AS (SELECT doc_id, unnest(hl) AS sgl FROM hs), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM shd a " +
      "JOIN shd b ON a.sgl = b.sgl AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "truth AS (SELECT da, db FROM inter JOIN sz sa ON sa.doc_id = da " +
      "JOIN sz sb ON sb.doc_id = db WHERE 10 * i >= 3 * (sa.n + sb.n - i)), " +
      "jj AS (SELECT c.n_match, CASE WHEN t.da IS NOT NULL THEN 1 ELSE 0 END AS is_true " +
      "FROM cand c LEFT JOIN truth t ON t.da = c.da AND t.db = c.db), " +
      "bb AS (SELECT CAST(n_match AS BIGINT) AS n_match, " +
      "CAST(count(*) AS BIGINT) AS n_cands, CAST(sum(is_true) AS BIGINT) AS n_true, " +
      "CAST((1000000 * sum(is_true)) // count(*) AS BIGINT) AS prec_e6 FROM jj GROUP BY 1), " +
      "cd AS (SELECT DISTINCT da, db FROM cand), " +
      "sm AS (SELECT CAST(-1 AS BIGINT) AS n_match, CAST(count(*) AS BIGINT) AS n_cands, " +
      "CAST(sum(CASE WHEN cd.da IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true, " +
      "CAST(CASE WHEN count(*) > 0 THEN " +
      "(1000000 * sum(CASE WHEN cd.da IS NOT NULL THEN 1 ELSE 0 END)) // count(*) " +
      "ELSE 0 END AS BIGINT) AS prec_e6 " +
      "FROM truth LEFT JOIN cd ON cd.da = truth.da AND cd.db = truth.db) " +
      "SELECT * FROM bb UNION ALL SELECT * FROM sm ORDER BY n_match"
  }

  /** Shared x122 oracle CTEs: simhash fingerprints → hamming-8 pairs →
    * recursive CC → member table `m(id, component, simhash)`. Ends with a
    * trailing comma so callers append their own member/pair CTEs.
    */
  private def diamSqlPrefix: String = {
    val ws = XText.wordsSql("text")
    s"WITH RECURSIVE w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h " +
      "FROM documents), " +
      "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
      "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
      "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
      "AS simhash FROM bt GROUP BY 1), " +
      "p AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
      "e AS (SELECT pa, pb FROM p UNION SELECT pb, pa FROM p), " +
      "reach AS (SELECT pa AS id, pa AS comp FROM e " +
      "UNION SELECT e.pa AS id, r.comp FROM e JOIN reach r ON e.pb = r.id), " +
      "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
      "m AS (SELECT comp.id, comp.component, sh.simhash FROM comp " +
      "JOIN sh ON sh.doc_id = comp.id), "
  }

  /** Shared x122 rollup tail over a `win(component, ham)` CTE;
    * `cappedCol` supplies the n_capped select expression (constant 0 for
    * the exact form, the size>cap count for the capped twin).
    */
  private def diamSqlRollup(cappedCol: String): String =
    "pc AS (SELECT component, CAST(count(*) AS BIGINT) AS n_pairs, " +
      "CAST(max(ham) AS BIGINT) AS diam, " +
      "CAST(sum(CASE WHEN ham <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_edges " +
      "FROM win GROUP BY 1), " +
      "szs AS (SELECT component, CAST(count(*) AS BIGINT) AS size FROM comp GROUP BY 1) " +
      "SELECT size, CAST(count(*) AS BIGINT) AS n_clusters, " +
      "CAST(sum(CASE WHEN diam > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_chained, " +
      "CAST(max(diam) AS BIGINT) AS max_diam, " +
      "CAST(sum(n_edges) AS BIGINT) AS sum_edges, " +
      "CAST(sum(n_pairs) AS BIGINT) AS sum_pairs, " +
      cappedCol + " " +
      "FROM szs JOIN pc USING (component) GROUP BY 1 ORDER BY 1"

  /** x126 core: DEDUP LENGTH BIAS — does exact dedup skew the corpus's
    * length distribution? Under x01's keep-first rule, per source: kept vs
    * dropped doc counts AND token masses, their exact mean lengths (e6),
    * and bias_e6 = (1e6 · dropped-mean) div kept-mean — dropped docs are
    * bias_e6/1e6 × the length of kept ones. Why it matters: duplication is
    * not length-independent (boilerplate and templated shorts re-post far
    * more than long-form), so dedup silently shifts the token-length
    * mixture the trainer sees — x104's post-dedup quantiles show the
    * after, this attributes the shift to the dedup step itself and prices
    * it per source; a bias far from 1e6 means the packing plan (x21/x83)
    * and context-length budget were tuned on a distribution dedup then
    * changed. bias_e6 = 0 where a source dropped nothing (flagless
    * sentinel — no nulls cross the oracle). Columns (source, n_kept,
    * n_dropped, tok_kept, tok_dropped, kept_mean_e6, dropped_mean_e6,
    * bias_e6).
    *
    * Scale posture (100 TB): rides the dedup's own shuffle — one groupBy
    * on the 8-byte norm key for owners, one join back on the same key,
    * then a |sources|-row map-side-combinable rollup; token counts are a
    * per-row expression inside the scan. Decimal(38) on the bias product
    * so corpus-scale token masses cannot overflow.
    */
  def dedupLengthBias(docs: DataFrame): DataFrame = {
    // AUDITED for widenNarrowScan (r16 VERDICT ask #6) and measured
    // REGRESSIVE: the per-row work here (word split + normalize + h60,
    // ~1.2 s single-threaded at sf0.1) is smaller than the fixed cost of
    // running every downstream shuffle 32-map-tasks wide (exec 1.55 →
    // 1.99 s, summed task time 1.2 → 21.6 s — numbers in
    // OPTIMIZATION_r17.md). Left unwidened on measurement.
    val g = docs.select(
      col("doc_id"),
      col("source"),
      size(XText.words(col("text"))).cast("long").as("n_tok"),
      h60(normText(col("text"))).as("key"))
    val own = g.groupBy("key").agg(min("doc_id").as("owner_id"))
    g.join(own, "key")
      .withColumn("kept", col("doc_id") === col("owner_id"))
      .groupBy("source")
      .agg(
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tok_kept"),
        sum(when(col("kept"), 0L).otherwise(col("n_tok"))).as("tok_dropped"))
      .withColumn("kept_mean_e6",
        expr("CASE WHEN n_kept = 0 THEN 0 ELSE " +
          "(cast(1000000 as decimal(38,0)) * tok_kept) div n_kept END"))
      .withColumn("dropped_mean_e6",
        expr("CASE WHEN n_dropped = 0 THEN 0 ELSE " +
          "(cast(1000000 as decimal(38,0)) * tok_dropped) div n_dropped END"))
      .withColumn("bias_e6",
        expr("CASE WHEN n_dropped = 0 OR tok_kept = 0 THEN 0 ELSE " +
          "(cast(1000000 as decimal(38,0)) * tok_dropped * n_kept) " +
          "div (cast(n_dropped as decimal(38,0)) * tok_kept) END"))
      .select("source", "n_kept", "n_dropped", "tok_kept", "tok_dropped",
        "kept_mean_e6", "dropped_mean_e6", "bias_e6")
  }

  /** x127 canonical quality threshold for the stage-overlap audit: the
    * midpoint of x100's sweep grid (score_e4 in [0, 10000]).
    */
  val StageThrE4 = 5000L

  /** x127 core: PIPELINE-STAGE OVERLAP — how much of exact dedup's work
    * would the quality filter have done anyway (and vice versa)? Both
    * signals are evaluated INDEPENDENTLY on the raw corpus — x01's
    * keep-first rule and the x09/x100 `score_e4 >= thr` gate — and every
    * doc lands in one of four cells: dropped by both, by dedup only, by
    * filter only, or kept by both. Why it matters: stage ordering is a
    * real cost decision at 100 TB (the cheaper stage should run first and
    * shrink the corpus the expensive one scans), and the decision needs
    * the overlap measured, not assumed — subsume_e6 = (1e6·drop_both) div
    * drop_dedup says what fraction of the dedup's drops the filter would
    * reap anyway (x90 answers this for filter-vs-filter; this prices
    * dedup-vs-filter, the two stages that actually compete for first
    * place). Columns (source, n_docs, drop_dedup, drop_filter, drop_both,
    * only_dedup, only_filter, n_survive, subsume_e6); sentinel 0 where a
    * source has no dedup drops.
    *
    * Scale posture (100 TB): scoring is a per-row expression inside the
    * scan; the dedup leg rides its own shuffle (owner groupBy + join back
    * on the 8-byte norm key); the four-cell accounting is one
    * |sources|-row map-side-combinable rollup. No window, no extra scan.
    */
  def stageOverlap(docs: DataFrame, thrE4: Long = StageThrE4): DataFrame = {
    // widenNarrowScan audited and rejected by measurement — the
    // dedupLengthBias note (exec 1.55 → 1.98 s at sf0.1)
    val g = TextAnalysis.qualityScored(docs)
      .select(col("doc_id"), col("source"), col("score_e4"),
        h60(normText(col("text"))).as("key"))
    val own = g.groupBy("key").agg(min("doc_id").as("owner_id"))
    g.join(own, "key")
      .withColumn("dd", col("doc_id") =!= col("owner_id"))
      .withColumn("df", col("score_e4") < thrE4)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("dd"), 1L).otherwise(0L)).as("drop_dedup"),
        sum(when(col("df"), 1L).otherwise(0L)).as("drop_filter"),
        sum(when(col("dd") && col("df"), 1L).otherwise(0L)).as("drop_both"),
        sum(when(col("dd") && !col("df"), 1L).otherwise(0L)).as("only_dedup"),
        sum(when(!col("dd") && col("df"), 1L).otherwise(0L)).as("only_filter"),
        sum(when(!col("dd") && !col("df"), 1L).otherwise(0L)).as("n_survive"))
      .withColumn("subsume_e6",
        expr("CASE WHEN drop_dedup = 0 THEN 0 ELSE (1000000 * drop_both) div drop_dedup END"))
  }

  /** x128 core: DEDUP SIGNAL AGREEMENT — do the text signal (x04 simhash,
    * hamming <= `hamming`) and the embedding signal (cosine >= `tau`
    * among k-means-cluster candidates, x50's leg) nominate the SAME
    * near-dup pairs? One summary row over the docs that carry embeddings
    * (vec_id = doc_id, the x50 convention): ids audited, pairs from each
    * signal, the intersection, each side's exclusive finds, the union,
    * and pair-set Jaccard (e6). Why it matters: x50 unions the signals on
    * the argument that each catches what the other misses — this audit
    * MEASURES that marginal value (agreement near 1e6 ⇒ the second signal
    * is redundant cost at 100 TB; near 0 with both sides non-trivial ⇒
    * they see genuinely different duplication, keep both), and a sudden
    * agreement shift after an encoder swap is an embedding regression
    * caught before x50 silently changes its merges. Columns (n_ids,
    * n_pairs_text, n_pairs_emb, n_both, only_text, only_emb, n_union,
    * jaccard_e6).
    *
    * Scale posture (100 TB): both generators are their bucketed scale
    * selves (pigeonhole blocks / k-means cells — no all-pairs path); the
    * agreement join is keyed on the 16-byte pair, the rollup is one row.
    * The text side is semi-join-restricted to embedded docs BEFORE
    * fingerprinting, so the audit never pays for docs outside the
    * embedded subset.
    */
  def signalAgreement(
      docs: DataFrame,
      emb: DataFrame,
      hamming: Int = 8,
      tau: Double = 0.45,
      nc: Int = 0,
      trainSample: Double = 1.0): DataFrame = {
    val dd = docs.join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val tp = simhashPairs(dd)
      .filter(col("hamming") <= hamming)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"), lit(1L).as("t"))
    val ep = embClusterPairs(emb, tau, nc, trainSample)
      .withColumn("e", lit(1L))
    val cells = tp.join(ep, Seq("a", "b"), "full_outer")
      .select(
        when(col("t").isNotNull, 1L).otherwise(0L).as("is_t"),
        when(col("e").isNotNull, 1L).otherwise(0L).as("is_e"))
      .agg(
        coalesce(sum("is_t"), lit(0L)).as("n_pairs_text"),
        coalesce(sum("is_e"), lit(0L)).as("n_pairs_emb"),
        coalesce(sum(expr("is_t * is_e")), lit(0L)).as("n_both"),
        count(lit(1)).as("n_union"))
    dd.agg(count(lit(1)).as("n_ids")).crossJoin(cells)
      .withColumn("only_text", col("n_pairs_text") - col("n_both"))
      .withColumn("only_emb", col("n_pairs_emb") - col("n_both"))
      .withColumn("jaccard_e6",
        expr("CASE WHEN n_union = 0 THEN 0 ELSE (1000000 * n_both) div n_union END"))
      .select("n_ids", "n_pairs_text", "n_pairs_emb", "n_both",
        "only_text", "only_emb", "n_union", "jaccard_e6")
  }

  /** x129 core: SIMHASH THRESHOLD SWEEP — the dedup-knob sensitivity
    * curve: for every hamming threshold 0..8 (the pigeonhole-complete
    * envelope of the narrow blocks), the near-dup pairs admitted and the
    * docs touched by ≥ 1 such pair. THE tuning input for the x04/x14/x50
    * family: the threshold is the single knob that trades recall (catch
    * more paraphrase) against over-merge (x122's chains), and the curve's
    * knee — where n_docs jumps — is where clusters start chaining; x100
    * sweeps the quality gate, this sweeps the dedup gate. Columns
    * (thr, n_pairs, n_docs), cumulative and zero-completed (a threshold
    * admitting nothing still reports its 0 — the x100 grid rule).
    *
    * Scale posture (100 TB): ONE candidate pass (the same pigeonhole
    * block join x04 runs — no new corpus work), then two vocabulary-free
    * rollups: pairs banded by exact hamming (≤ 9 rows) and docs banded by
    * their MIN hamming over partners (≤ 9 rows after a doc-keyed
    * min-combine); the threshold grid joins against those band tables,
    * never the pair stream. The sweep costs one dedup run, not nine.
    */
  def simhashThresholdSweep(docs: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    val pairs = simhashPairs(docs).localCheckpoint() // feeds both band legs
    val grid = sp.range(0, 9).select(col("id").as("thr"))
    val pb = pairs.groupBy("hamming").agg(count(lit(1)).as("c"))
    val np = grid.join(broadcast(pb), pb("hamming") <= grid("thr"), "left")
      .groupBy("thr").agg(coalesce(sum("c"), lit(0L)).as("n_pairs"))
    val db = pairs.select(col("doc_id_a").as("id"), col("hamming"))
      .unionByName(pairs.select(col("doc_id_b").as("id"), col("hamming")))
      .groupBy("id").agg(min("hamming").as("mh"))
      .groupBy("mh").agg(count(lit(1)).as("c"))
    val nd = grid.join(broadcast(db), db("mh") <= grid("thr"), "left")
      .groupBy("thr").agg(coalesce(sum("c"), lit(0L)).as("n_docs"))
    np.join(nd, "thr")
  }

  val queries: Seq[Q] = Seq(
    // ----- x01: exact dedup after normalization (hash groupBy keep-first) -----
    Q(
      "x01_dedup_exact",
      Some(
        "SELECT source, count(*) AS n_after FROM (" +
          s"SELECT source, ROW_NUMBER() OVER (PARTITION BY $normSql ORDER BY doc_id) AS rn " +
          "FROM documents) WHERE rn = 1 GROUP BY source ORDER BY source"),
      "exact dedup on normalized text: one shuffle on the norm key; survivors attributed to source"
    ) { (s, dir) =>
      dedupExact(table(s, dir, "documents"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_after"))
        .orderBy("source")
    },

    // ----- x47: cross-source duplication matrix -----
    Q(
      "x47_source_overlap",
      Some(
        // the synthetic corpus has no cross-source exact dups, so (x32's
        // augmentation pattern) both engines add a deterministic "mirror"
        // source re-hosting every 31st doc — the aggregator-site shape
        // this audit exists to expose
        "WITH aug AS (SELECT doc_id, source, text FROM documents " +
          "UNION ALL SELECT doc_id + 2000000, 'mirror', text FROM documents " +
          "WHERE doc_id % 31 = 0), " +
          s"g AS (SELECT DISTINCT ${XHash.h60Sql(normSql)} AS key, source FROM aug), " +
          "p AS (SELECT a.key, a.source AS source_a, b.source AS source_b " +
          "FROM g a JOIN g b ON a.key = b.key AND a.source < b.source) " +
          "SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_groups " +
          "FROM p GROUP BY 1, 2 ORDER BY 1, 2"),
      "cross-source duplication matrix: for every source pair, how many exact-dup groups " +
        "(x01's normalized-text key) contain docs of BOTH — the 'which sources copy from " +
        "which' audit that decides dedup ordering and licensing review in a multi-source " +
        "mix (fixture: a deterministic 'mirror' source re-hosts every 31st doc, both " +
        "engines identically). One shuffle on the 8-byte norm key; the per-key source " +
        "list is tiny (sources per duplicate group), so the within-key pair expansion " +
        "never blows up, and the final matrix is |sources|² rows — driver-size."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select("doc_id", "source", "text")
      val aug = docs.unionByName(
        docs.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), lit("mirror").as("source"), col("text")))
      sourceOverlap(aug).orderBy("source_a", "source_b")
    },

    // ----- x87: per-source dedup survivorship -----
    Q(
      "x87_dedup_survivorship",
      Some(
        // x47's mirror fixture (re-hosted every-31st doc → external loss)
        // plus a within-source re-post of every 17th doc (→ internal
        // loss), so both attribution columns carry signal in both engines
        "WITH aug AS (SELECT doc_id, source, text FROM documents " +
          "UNION ALL SELECT doc_id + 2000000, 'mirror', text FROM documents " +
          "WHERE doc_id % 31 = 0 " +
          "UNION ALL SELECT doc_id + 4000000, source, text FROM documents " +
          "WHERE doc_id % 17 = 0), " +
          s"g AS (SELECT doc_id, source, ${h60Sql(normSql)} AS key FROM aug), " +
          "own AS (SELECT key, min(doc_id) AS owner_id, min_by(source, doc_id) AS owner_src " +
          "FROM g GROUP BY key) " +
          "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(CASE WHEN doc_id = owner_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
          "CAST(sum(CASE WHEN doc_id <> owner_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, " +
          "CAST(sum(CASE WHEN doc_id <> owner_id AND source = owner_src THEN 1 ELSE 0 END) " +
          "AS BIGINT) AS lost_internal, " +
          "CAST(sum(CASE WHEN doc_id <> owner_id AND source <> owner_src THEN 1 ELSE 0 END) " +
          "AS BIGINT) AS lost_external, " +
          "CAST((1000000 * sum(CASE WHEN doc_id <> owner_id THEN 1 ELSE 0 END)) // count(*) " +
          "AS BIGINT) AS drop_e6 " +
          "FROM g JOIN own USING (key) GROUP BY source ORDER BY source"),
      "per-source dedup survivorship — who pays for exact dedup: under x01's keep-first " +
        "rule each source reports docs in, kept, dropped, and the drops attributed to a " +
        "same-source owner (internal redundancy) vs a different-source owner (re-hosted " +
        "content — the aggregator bill; x47 names the pairs, this prices them per source). " +
        "Fixture: the x47 mirror source plus a within-source re-post of every 17th doc, " +
        "deterministic in both engines, so both attribution columns are exercised. One " +
        "min/min_by groupBy on the 8-byte norm key and one join back on the same key — " +
        "the audit rides the dedup's own shuffle; output is |sources| rows."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select("doc_id", "source", "text")
      val aug = docs
        .unionByName(docs.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), lit("mirror").as("source"),
            col("text")))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("source"), col("text")))
      dedupSurvivorship(aug).orderBy("source")
    },

    // ----- x74: incremental admission dedup (batch vs existing corpus) -----
    Q(
      "x74_incremental_dedup",
      Some {
        // batch fixture = every 3rd doc PLUS mirror re-arrivals of every
        // 31st doc (x47's pattern) — mirrors of corpus docs exercise
        // dup_exact_corpus, mirrors of batch docs exercise dup_exact_batch,
        // so every status bucket carries data the hash compare can see
        s"WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0 " +
          "UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 31 = 0), " +
          "c0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0), " +
          s"ck AS (SELECT DISTINCT ${h60Sql(normSql)} AS key FROM c0), " +
          s"bkk AS (SELECT doc_id, ${h60Sql(normSql)} AS key, " +
          s"${h60Sql("CAST(doc_id AS VARCHAR)")} AS ord FROM b0), " +
          "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY ord, doc_id) " +
          "AS rn FROM bkk), " +
          s"${sigSqlCtesFor("b0", "_b")}, ${sigSqlCtesFor("c0", "_c")}, " +
          s"${Lsh.minhashBandsSql("bb", "sig_b", "bkey")}, " +
          s"${Lsh.minhashBandsSql("cbn", "sig_c", "bkey")}, " +
          "near AS (SELECT DISTINCT a.doc_id FROM bb a JOIN cbn b " +
          "ON a.band = b.band AND a.bkey = b.bkey " +
          s"WHERE ${Lsh.nMatchSql("a", "b")} " +
          s">= ${K / 2}), " +
          "st AS (SELECT r.doc_id, r.key, " +
          "CASE WHEN ck.key IS NOT NULL THEN 'dup_exact_corpus' " +
          "WHEN r.rn >= 2 THEN 'dup_exact_batch' " +
          "WHEN n.doc_id IS NOT NULL THEN 'near_dup_corpus' " +
          "ELSE 'admitted' END AS status " +
          "FROM rk r LEFT JOIN ck ON ck.key = r.key LEFT JOIN near n ON n.doc_id = r.doc_id) " +
          "SELECT status, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(bit_xor(key) AS BIGINT) AS checksum " +
          "FROM st GROUP BY status ORDER BY status"
      },
      "incremental ADMISSION dedup — the daily-ingest posture: an arriving batch (every " +
        "3rd doc as the fixture) is classified against the existing corpus (the rest) " +
        "without re-clustering anything: exact key already in corpus / exact key claimed " +
        "by an earlier batch arrival / MinHash-band near-dup of a corpus doc (x02's " +
        "decision rule, batch x corpus candidates only) / admitted. Per status: count + " +
        "bit_xor key checksum, so the oracle pins exactly WHICH docs land in each " +
        "bucket. At 100 TB the corpus contributes one key projection and one signature " +
        "scan; every join is batch-vs-corpus — admitting a few GB never re-shuffles the " +
        "corpus."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
        .unionByName(docs.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      incrementalDedup(docs.filter(col("doc_id") % 3 =!= 0), batch)
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(key)").as("checksum"))
        .orderBy("status")
    },

    // ----- x74 strict: admission + intra-batch near-dup CC (`Cli admit --strict`) -----
    Q(
      "x74_admit_strict",
      Some {
        // x74's fixture + NEAR re-arrivals of every 51st doc (51 = 3*17, so
        // the original is IN the batch): original and variant are near-dups
        // of EACH OTHER, invisible to the batch-vs-corpus rule — the
        // near_dup_batch bucket carries data by construction
        s"WITH RECURSIVE b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0 " +
          "UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 31 = 0 " +
          "UNION ALL SELECT doc_id + 6000000, text || ' qz' FROM documents WHERE doc_id % 51 = 0), " +
          "c0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0), " +
          s"ck AS (SELECT DISTINCT ${h60Sql(normSql)} AS key FROM c0), " +
          s"bkk AS (SELECT doc_id, ${h60Sql(normSql)} AS key, " +
          s"${h60Sql("CAST(doc_id AS VARCHAR)")} AS ord FROM b0), " +
          "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY ord, doc_id) " +
          "AS rn FROM bkk), " +
          s"${sigSqlCtesFor("b0", "_b")}, ${sigSqlCtesFor("c0", "_c")}, " +
          s"${Lsh.minhashBandsSql("bb", "sig_b", "bkey")}, " +
          s"${Lsh.minhashBandsSql("cbn", "sig_c", "bkey")}, " +
          "near AS (SELECT DISTINCT a.doc_id FROM bb a JOIN cbn b " +
          "ON a.band = b.band AND a.bkey = b.bkey " +
          s"WHERE ${Lsh.nMatchSql("a", "b")} " +
          s">= ${K / 2}), " +
          "st AS (SELECT r.doc_id, r.key, " +
          "CASE WHEN ck.key IS NOT NULL THEN 'dup_exact_corpus' " +
          "WHEN r.rn >= 2 THEN 'dup_exact_batch' " +
          "WHEN n.doc_id IS NOT NULL THEN 'near_dup_corpus' " +
          "ELSE 'admitted' END AS status " +
          "FROM rk r LEFT JOIN ck ON ck.key = r.key LEFT JOIN near n ON n.doc_id = r.doc_id), " +
          "adm AS (SELECT doc_id FROM st WHERE status = 'admitted'), " +
          "pp AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb FROM bb a " +
          "JOIN bb b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id " +
          "JOIN adm x ON x.doc_id = a.doc_id JOIN adm y ON y.doc_id = b.doc_id " +
          s"WHERE ${Lsh.nMatchSql("a", "b")} " +
          s">= ${K / 2}), " +
          "e AS (SELECT pa, pb FROM pp UNION SELECT pb, pa FROM pp), " +
          "reach AS (SELECT pa AS id, pa AS comp FROM e " +
          "UNION SELECT e.pa AS id, r.comp FROM e JOIN reach r ON e.pb = r.id), " +
          "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "losers AS (SELECT id FROM comp WHERE id <> component), " +
          "st2 AS (SELECT doc_id, key, CASE WHEN status = 'admitted' AND " +
          "doc_id IN (SELECT id FROM losers) THEN 'near_dup_batch' ELSE status END AS status " +
          "FROM st) " +
          "SELECT status, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(bit_xor(key) AS BIGINT) AS checksum " +
          "FROM st2 GROUP BY status ORDER BY status"
      },
      "STRICT admission — x74's batch-vs-corpus rule plus the one case it is " +
        "structurally blind to: near-dup pairs arriving TOGETHER in the batch (both " +
        "otherwise admitted, both in the corpus forever). MinHash-band pairs over the " +
        "ADMITTED docs' signatures -> connected components (recursive-CTE transitive " +
        "closure in the oracle) -> one survivor per cluster, losers reported as " +
        "near_dup_batch — exactly `Cli admit --strict`'s refinement, oracle-pinned. " +
        "Fixture plants near re-arrivals of every 51st doc (original in batch, variant " +
        "one token longer) so the fifth status carries data. Scale: the CC runs on the " +
        "ADMITTED-batch pair graph only (batch-sized, zero corpus access); the corpus " +
        "legs are x74's unchanged."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
        .unionByName(docs.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 51 === 0)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            concat(col("text"), lit(" qz")).as("text")))
      val batchSigs = dedupSignatures(batch)
      val st0 = incrementalDedupSigs(
        dedupSignatures(docs.filter(col("doc_id") % 3 =!= 0)), batchSigs)
      admitStrict(st0, batchSigs)
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(key)").as("checksum"))
        .orderBy("status")
    },

    // ----- x74 sidecar compaction: reconcile persisted dedup state with the live corpus -----
    Q(
      "x74_sigs_compact",
      Some {
        // sidecar fixture = every doc's state + a planted RETRY double-append
        // (every 7th) — then the corpus loses every 5th doc to a re-filter;
        // compaction must drop the removed docs' states and collapse the
        // doubles. Summary row per survival decile keeps the output compact
        // while the bit_xor pins exactly WHICH doc_ids/keys survived.
        s"WITH s0 AS (SELECT doc_id, ${h60Sql(normSql)} AS key FROM documents " +
          s"UNION ALL SELECT doc_id, ${h60Sql(normSql)} AS key FROM documents " +
          "WHERE doc_id % 7 = 0), " +
          "live AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0), " +
          "c AS (SELECT DISTINCT s0.doc_id, s0.key FROM s0 JOIN live USING (doc_id)) " +
          "SELECT doc_id % 10 AS decile, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(bit_xor(doc_id) AS BIGINT) AS id_xor, " +
          "CAST(bit_xor(key) AS BIGINT) AS key_xor " +
          "FROM c GROUP BY 1 ORDER BY 1"
      },
      "sidecar COMPACTION for the admission dedup state (`Cli admit --compact`): an " +
        "append-only signature sidecar drifts from the corpus it models when a later " +
        "re-filter/re-dedup REMOVES docs — a stale signature then poisons admission, " +
        "rejecting tomorrow's copy of deleted content as a dup of docs the corpus no " +
        "longer has — and when a retried append doubles a row. compactSignatures keeps " +
        "one state row per doc_id still in the live id set: one left_semi join on the " +
        "8-byte doc_id (the corpus contributes ID PROJECTION only, never text) + one " +
        "keep-one-per-id WindowGroupLimit shuffle. Fixture plants both drift modes " +
        "(double-append every 7th, remove every 5th); per-decile count + id/key " +
        "checksums pin the exact surviving membership."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val sigs = dedupSignatures(docs)
        .unionByName(dedupSignatures(docs.filter(col("doc_id") % 7 === 0)))
      compactSignatures(sigs, docs.filter(col("doc_id") % 5 =!= 0))
        .groupBy((col("doc_id") % 10).as("decile"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("bit_xor(doc_id)").as("id_xor"),
          expr("bit_xor(key)").as("key_xor"))
        .orderBy("decile")
    },

    // ----- x02: MinHash + LSH banding near-dup candidates -----
    Q(
      "x02_dedup_minhash",
      Some {
        s"WITH $sigSqlCtes, " +
          s"${Lsh.minhashBandsSql("bk", "sig")}, " +
          "cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, " +
          s"${Lsh.nMatchSql("a", "b")} AS n_match " +
          "FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id) " +
          s"SELECT da AS doc_id_a, db AS doc_id_b, n_match FROM cand WHERE n_match >= ${K / 2} " +
          "ORDER BY doc_id_a, doc_id_b"
      },
      "MinHash(16) in 4 bands of 4; candidates share >=1 band bucket, kept when >=8/16 minhashes agree. " +
        "The join is keyed on (band, bucket) — O(candidates), the 100 TB dedup path"
    ) { (s, dir) =>
      minhashPairs(table(s, dir, "documents"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x03: exact n-gram Jaccard (the verify step for the sketches) -----
    Q(
      "x03_ngram_jaccard",
      Some {
        val ws = XText.wordsSql("text")
        val sh = XText.shinglesSql("ws", 3)
        s"WITH w AS (SELECT doc_id, $ws AS ws FROM documents), " +
          s"shs AS (SELECT doc_id, $sh AS ss FROM w), " +
          s"shd AS (SELECT doc_id, unnest(list_transform(ss, sgl -> ${h60Sql("sgl")})) AS sgl FROM shs), " +
          "sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id), " +
          "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM shd a " +
          "JOIN shd b ON a.sgl = b.sgl AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
          "SELECT da AS doc_id_a, db AS doc_id_b, CAST(i AS BIGINT) AS n_inter, " +
          "CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b " +
          "FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db " +
          "WHERE 10 * i >= 3 * (sa.n + sb.n - i) ORDER BY doc_id_a, doc_id_b"
      },
      "exact Jaccard >= 0.3 on distinct word-3-gram sets, kept in integer arithmetic (10i >= 3(na+nb-i)) " +
        "so no float crosses the oracle; shingles carried as 60-bit hashes so the self-join shuffles " +
        "16-byte rows, not strings — at 100 TB run it on LSH candidates only"
    ) { (s, dir) =>
      jaccardPairs(table(s, dir, "documents"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x04: SimHash near-dup (60-bit fingerprint, hamming <= 8) -----
    Q(
      "x04_dedup_simhash",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h " +
          "FROM documents), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1) " +
          "SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, " +
          "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
          "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8 ORDER BY doc_id_a, doc_id_b"
      },
      "tf-weighted 60-bit SimHash as a native codegen expression (zero shuffle); pigeonhole-blocked " +
        "candidate equi-join: hamming<=8 pairs must agree on one of 9 simhash blocks, so the join is " +
        "keyed on (block, value) — O(candidates), the 100 TB path — then hamming verified exactly"
    ) { (s, dir) =>
      simhashPairs(table(s, dir, "documents"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x15: WIDE (120-bit) SimHash near-dup, hamming <= 3 (Manku blocks) -----
    Q(
      "x15_dedup_simhash_wide",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH w AS (SELECT doc_id, unnest($ws) AS wd FROM documents), " +
          "h AS (SELECT doc_id, ('0x' || substr(md5(wd), 1, 15))::BIGINT AS h1, " +
          "('0x' || substr(md5(wd), 17, 15))::BIGINT AS h2 FROM w), " +
          "bt AS (SELECT doc_id, bit, " +
          "sum(CASE WHEN (h1 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sg1, " +
          "sum(CASE WHEN (h2 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sg2 " +
          "FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, " +
          "CAST(sum(CASE WHEN sg1 > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS s1, " +
          "CAST(sum(CASE WHEN sg2 > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS s2 " +
          "FROM bt GROUP BY 1) " +
          "SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, " +
          "CAST(bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) AS BIGINT) AS hamming " +
          "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) <= 3 " +
          "ORDER BY doc_id_a, doc_id_b"
      },
      "120-bit simhash (two 60-bit words from each token's two md5 halves) at hamming<=3 — the " +
        "Manku WWW'07 wide configuration for shards beyond the 60-bit envelope (~1e5 docs): 4 " +
        "blocks of 30 bits keep random block collisions ~n^2/2^30, selective to ~1e6-1e7 docs/shard; " +
        "same pigeonhole equi-join shape as x04, exact-hamming verified"
    ) { (s, dir) =>
      simhashPairs(table(s, dir, "documents"), wide = true)
        .orderBy("doc_id_a", "doc_id_b")
    },

    // ----- x14: fuzzy dedup end-to-end (pairs → clusters → survivors) -----
    Q(
      "x14_dedup_clusters",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH RECURSIVE w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h " +
          "FROM documents), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1), " +
          "p AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
          "e AS (SELECT pa, pb FROM p UNION SELECT pb, pa FROM p), " +
          "reach AS (SELECT pa AS id, pa AS comp FROM e " +
          "UNION SELECT e.pa AS id, r.comp FROM e JOIN reach r ON e.pb = r.id), " +
          "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "losers AS (SELECT id FROM comp WHERE id <> component) " +
          "SELECT source, count(*) AS n_after FROM documents " +
          "WHERE doc_id NOT IN (SELECT id FROM losers) GROUP BY source ORDER BY source"
      },
      "fuzzy dedup END-TO-END: simhash near-dup pairs → connected components (label propagation; " +
        "recursive-CTE transitive closure in the oracle) → one survivor per cluster; the per-source " +
        "survivor counts a training-data pipeline reports"
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val pairs = simhashPairs(docs)
        .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      DedupClusters.dedupByPairs(docs, pairs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_after"))
        .orderBy("source")
    },

    // ----- x99: dedup cascade (stage-attributed removal waterfall) -----
    Q(
      "x99_dedup_cascade",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH RECURSIVE ex AS (SELECT doc_id, source, text, " +
          s"ROW_NUMBER() OVER (PARTITION BY $normSql ORDER BY doc_id) AS rn FROM documents), " +
          "sv AS (SELECT doc_id, source, text FROM ex WHERE rn = 1), " +
          s"w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h FROM sv), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1), " +
          "p AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
          "e AS (SELECT pa, pb FROM p UNION SELECT pb, pa FROM p), " +
          "reach AS (SELECT pa AS id, pa AS comp FROM e " +
          "UNION SELECT e.pa AS id, r.comp FROM e JOIN reach r ON e.pb = r.id), " +
          "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "losers AS (SELECT id FROM comp WHERE id <> component), " +
          "base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1), " +
          "exs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM sv GROUP BY 1), " +
          "fin AS (SELECT source, CAST(count(*) AS BIGINT) AS n_final FROM sv " +
          "WHERE doc_id NOT IN (SELECT id FROM losers) GROUP BY 1) " +
          "SELECT base.source, base.n_docs, " +
          "CAST(base.n_docs - coalesce(exs.n_exact, 0) AS BIGINT) AS removed_exact, " +
          "CAST(coalesce(exs.n_exact, 0) - coalesce(fin.n_final, 0) AS BIGINT) AS removed_near, " +
          "CAST(coalesce(fin.n_final, 0) AS BIGINT) AS n_final " +
          "FROM base LEFT JOIN exs USING (source) LEFT JOIN fin USING (source) ORDER BY source"
      },
      "dedup CASCADE, stage-attributed — the waterfall report every production " +
        "pipeline publishes (RefinedWeb/FineWeb style): exact dedup first (cheap, " +
        "hash of normalized text, min-id survivor), simhash near-dup second on the " +
        "exact survivors only (x14's pairs -> connected components), with per-source " +
        "n_docs / removed_exact / removed_near / n_final. Ordering matters " +
        "operationally: the exact stage shrinks the near-dup stage's input for free, " +
        "and attributing removals per stage is how a pipeline owner knows which knob " +
        "did the work. Scale: stage 1 is ONE WindowGroupLimit shuffle on the 8-byte " +
        "norm key; stage 2 inherits x14's bucketed-candidate + label-prop posture on " +
        "a strictly smaller corpus; the waterfall itself is three |sources|-row " +
        "aggregates joined broadcast."
    ) { (s, dir) =>
      dedupCascade(table(s, dir, "documents")).orderBy("source")
    },

    // ----- x99 minhash leg: the cascade PAST the narrow boundary -----
    Q(
      "x99_cascade_minhash",
      Some {
        s"WITH RECURSIVE ex AS (SELECT doc_id, source, text, " +
          s"ROW_NUMBER() OVER (PARTITION BY $normSql ORDER BY doc_id) AS rn FROM documents), " +
          "sv AS (SELECT doc_id, source, text FROM ex WHERE rn = 1), " +
          s"${sigSqlCtesFor("sv", "")}, " +
          s"${Lsh.minhashBandsSql("bk", "sig")}, " +
          "p AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb " +
          "FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id " +
          s"WHERE ${Lsh.nMatchSql("a", "b")} >= ${K / 2}), " +
          "e AS (SELECT pa, pb FROM p UNION SELECT pb, pa FROM p), " +
          "reach AS (SELECT pa AS id, pa AS comp FROM e " +
          "UNION SELECT e.pa AS id, r.comp FROM e JOIN reach r ON e.pb = r.id), " +
          "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "losers AS (SELECT id FROM comp WHERE id <> component), " +
          "base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1), " +
          "exs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM sv GROUP BY 1), " +
          "fin AS (SELECT source, CAST(count(*) AS BIGINT) AS n_final FROM sv " +
          "WHERE doc_id NOT IN (SELECT id FROM losers) GROUP BY 1) " +
          "SELECT base.source, base.n_docs, " +
          "CAST(base.n_docs - coalesce(exs.n_exact, 0) AS BIGINT) AS removed_exact, " +
          "CAST(coalesce(exs.n_exact, 0) - coalesce(fin.n_final, 0) AS BIGINT) AS removed_near, " +
          "CAST(coalesce(fin.n_final, 0) AS BIGINT) AS n_final " +
          "FROM base LEFT JOIN exs USING (source) LEFT JOIN fin USING (source) ORDER BY source"
      },
      "dedup CASCADE with the MinHash-LSH text leg — the EXACT query " +
        "dedupCascadeAuto / Cli corpus --scale runs past the narrow-simhash " +
        "boundary (~1e5 exact survivors), pinned bit-for-bit against the oracle " +
        "rather than only battery-measured: exact dedup first, then x02's banded " +
        "MinHash candidates (band key = md5 over 4 signature values, >=8/16 " +
        "minhash agreement) over the exact survivors -> connected components, " +
        "with the same per-source waterfall columns as x99. Scale: the band " +
        "keyspace is effectively unbounded, so bucket occupancy tracks TRUE " +
        "similarity instead of corpus size — candidate mass stays O(near-dup " +
        "mass) where the narrow pigeonhole blocks go quadratic by construction " +
        "(n/128 docs per bucket value); measured at 100x on the power-law " +
        "fixture: the minhash leg's pair->CC form runs 12.4 s " +
        "(x14_powerlaw_minhash) and the full auto cascade 58.3 s " +
        "(x99_cascade_powerlaw_auto) where the narrow leg fills scratch and " +
        "aborts."
    ) { (s, dir) =>
      dedupCascade(table(s, dir, "documents"), MinhashLeg).orderBy("source")
    },

    // ----- x105: cross-source NEAR-dup matrix (x47 lifted to simhash) -----
    Q(
      "x105_cross_neardup",
      Some {
        val ws = XText.wordsSql("text")
        // x47's mirror fixture: a deterministic aggregator source re-hosts
        // every 31st doc, so the off-diagonal cells carry signal in both
        // engines (organic near-dups stay within one source here)
        s"WITH aug AS (SELECT doc_id, source, text FROM documents " +
          "UNION ALL SELECT doc_id + 2000000, 'mirror', text FROM documents " +
          "WHERE doc_id % 31 = 0), " +
          s"w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h FROM aug), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1), " +
          "p AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
          "j AS (SELECT least(ga.source, gb.source) AS source_a, " +
          "greatest(ga.source, gb.source) AS source_b " +
          "FROM p JOIN aug ga ON ga.doc_id = p.pa JOIN aug gb ON gb.doc_id = p.pb) " +
          "SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs " +
          "FROM j GROUP BY 1, 2 ORDER BY 1, 2"
      },
      "cross-source NEAR-dup matrix — x47's 'who copies whom' audit lifted from " +
        "exact-dup groups to the simhash near-dup graph (hamming <= 8): per source " +
        "pair, the number of near-dup pairs spanning them. Exact re-hosting lands at " +
        "hamming 0; paraphrase/boilerplate edits land where exact matching goes " +
        "blind. Fixture: x47's deterministic 'mirror' aggregator re-hosts every 31st " +
        "doc, giving the off-diagonal cells signal in both engines. Rides the " +
        "pigeonhole-bucketed pair join + two 8-byte source-attribution joins; the " +
        "matrix is |sources|^2 rows."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select("doc_id", "source", "text")
      val aug = docs.unionByName(
        docs.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), lit("mirror").as("source"), col("text")))
      crossSourceNearDup(aug).orderBy("source_a", "source_b")
    },

    // ----- x95: keep-best dedup gain (the x94 remediation, measured per source) -----
    Q(
      "x95_keepbest_gain",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH RECURSIVE ${TextAnalysis.qualityPerDocSqlCtes}, " +
          s"w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h " +
          "FROM documents), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1), " +
          "p AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
          "e AS (SELECT pa, pb FROM p UNION SELECT pb, pa FROM p), " +
          "reach AS (SELECT pa AS id, pa AS comp FROM e " +
          "UNION SELECT e.pa AS id, r.comp FROM e JOIN reach r ON e.pb = r.id), " +
          "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "fs AS (SELECT d.source, qd.score_e4 FROM documents d " +
          "JOIN qd ON qd.doc_id = d.doc_id " +
          "WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id <> component)), " +
          "bp AS (SELECT id FROM (SELECT comp.id, ROW_NUMBER() OVER " +
          "(PARTITION BY component ORDER BY qd.score_e4 DESC, comp.id) AS rn " +
          "FROM comp JOIN qd ON qd.doc_id = comp.id) WHERE rn = 1), " +
          "bs AS (SELECT d.source, qd.score_e4 FROM documents d " +
          "JOIN qd ON qd.doc_id = d.doc_id " +
          "WHERE d.doc_id NOT IN (SELECT id FROM comp) OR d.doc_id IN (SELECT id FROM bp)), " +
          "fa AS (SELECT source, CAST(count(*) AS BIGINT) AS n_first, " +
          "CAST(sum(score_e4) AS BIGINT) AS q_first_e4 FROM fs GROUP BY 1), " +
          "fb AS (SELECT source, CAST(count(*) AS BIGINT) AS n_best, " +
          "CAST(sum(score_e4) AS BIGINT) AS q_best_e4 FROM bs GROUP BY 1) " +
          "SELECT coalesce(fa.source, fb.source) AS source, " +
          "CAST(coalesce(n_first, 0) AS BIGINT) AS n_first, " +
          "CAST(coalesce(q_first_e4, 0) AS BIGINT) AS q_first_e4, " +
          "CAST(coalesce(n_best, 0) AS BIGINT) AS n_best, " +
          "CAST(coalesce(q_best_e4, 0) AS BIGINT) AS q_best_e4, " +
          "CAST(coalesce(q_best_e4, 0) - coalesce(q_first_e4, 0) AS BIGINT) AS gain_e4 " +
          "FROM fa FULL OUTER JOIN fb USING (source) ORDER BY source"
      },
      "keep-best dedup, measured — the x94 remediation as a per-source before/after: " +
        "survivor counts and summed x09 quality under the min-id rule vs the " +
        "quality-aware argmax rule, with the per-source gain (can be negative for a " +
        "source whose copy loses the argmax to another source — content custody moves, " +
        "corpus quality only goes up: global gain == x94's total regret, spec-pinned). " +
        "Same CC + one extra per-component window over clustered docs only; the oracle " +
        "replays both survivor rules from the same recursive closure."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val pairs = simhashPairs(docs)
        .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      val q = TextAnalysis.qualityPerDoc(docs).select("doc_id", "score_e4")
      val d = docs.select("doc_id", "source").join(q, "doc_id")
      // ONE label-prop pass: both survivor rules read the same materialized
      // (id, component) labeling — re-deriving it per rule would rerun the
      // simhash + CC machinery twice (measured 14.1 s vs ~8 s at sf0.1).
      val comp = DedupClusters.connectedComponents(pairs)
      val first = DedupClusters.dedupByComponents(d, comp)
        .groupBy("source")
        .agg(count(lit(1)).as("n_first"), sum("score_e4").as("q_first_e4"))
      val best = DedupClusters.dedupByComponentsKeepBest(d, comp, col("score_e4"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_best"), sum("score_e4").as("q_best_e4"))
      first.join(best, Seq("source"), "full_outer")
        .na.fill(0L, Seq("n_first", "q_first_e4", "n_best", "q_best_e4"))
        .withColumn("gain_e4", col("q_best_e4") - col("q_first_e4"))
        .orderBy("source")
    },

    // ----- x94: survivor regret (does keep-first dedup keep the best copy?) -----
    Q(
      "x94_survivor_regret",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH RECURSIVE ${TextAnalysis.qualityPerDocSqlCtes}, " +
          s"w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h " +
          "FROM documents), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1), " +
          "p AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
          "e AS (SELECT pa, pb FROM p UNION SELECT pb, pa FROM p), " +
          "reach AS (SELECT pa AS id, pa AS comp FROM e " +
          "UNION SELECT e.pa AS id, r.comp FROM e JOIN reach r ON e.pb = r.id), " +
          "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "j AS (SELECT comp.component, comp.id, qd.score_e4 FROM comp " +
          "JOIN qd ON qd.doc_id = comp.id) " +
          "SELECT component, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(max(CASE WHEN id = component THEN score_e4 END) AS BIGINT) AS kept_score_e4, " +
          "CAST(max(score_e4) AS BIGINT) AS best_score_e4, " +
          "CAST(max(score_e4) - max(CASE WHEN id = component THEN score_e4 END) AS BIGINT) " +
          "AS regret_e4, " +
          "(max(score_e4) = max(CASE WHEN id = component THEN score_e4 END)) AS kept_is_best " +
          "FROM j GROUP BY component ORDER BY component"
      },
      "survivor regret — does keep-first dedup throw away the best copy: for every x14 " +
        "near-dup cluster, the kept doc's x09 quality vs the cluster max (regret_e4 = " +
        "best - kept, kept_is_best flag). Nonzero total regret is the measured case for " +
        "the quality-aware survivor rule (dedupByPairsKeepBest — argmax score, ties to " +
        "the smaller id). Rides the dedup's own connected components: one join to the " +
        "per-doc score table and one component-keyed aggregate, no window, no global " +
        "sort; the oracle replays the same transitive closure as a recursive CTE."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val pairs = simhashPairs(docs)
        .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      survivorRegret(pairs, TextAnalysis.qualityPerDoc(docs)).orderBy("component")
    },

    // ----- x28: MinHash sketch calibration (estimate vs exact Jaccard) -----
    Q(
      "x28_minhash_calibration",
      Some {
        s"WITH $sigSqlCtes, " +
          s"${Lsh.minhashBandsSql("bk", "sig")}, " +
          "cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, " +
          s"${Lsh.nMatchSql("a", "b")} AS n_match " +
          "FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id), " +
          "shd AS (SELECT doc_id, unnest(hl) AS sgl FROM hs), " +
          "sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1), " +
          "iv AS (SELECT c.da, c.db, count(*) AS i FROM cand c " +
          "JOIN shd a ON a.doc_id = c.da JOIN shd b ON b.doc_id = c.db AND b.sgl = a.sgl " +
          "GROUP BY 1, 2), " +
          "pe AS (SELECT c.da, c.db, c.n_match, coalesce(iv.i, 0) AS i FROM cand c " +
          "LEFT JOIN iv ON iv.da = c.da AND iv.db = c.db), " +
          "j AS (SELECT n_match, CAST(floor(10000.0 * i / (sa.n + sb.n - i)) AS BIGINT) AS jac_e4 " +
          "FROM pe JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db) " +
          "SELECT n_match, count(*) AS n_pairs, CAST(sum(jac_e4) AS BIGINT) AS sum_jac_e4, " +
          "CAST(min(jac_e4) AS BIGINT) AS min_jac_e4, CAST(max(jac_e4) AS BIGINT) AS max_jac_e4 " +
          "FROM j GROUP BY n_match ORDER BY n_match"
      },
      "sketch calibration — the measurement that justifies trusting MinHash at 100 TB: for EVERY " +
        "LSH band-collision candidate (no match threshold), the estimated similarity (n_match of " +
        s"$K minhashes) against the exact shingle Jaccard (fixed-point e4), bucketed by estimate. " +
        "Exact verification touches candidates only — the same join shape the dedup pipeline " +
        "runs, so calibration costs one extra keyed join, not an all-pairs pass."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val cand = minhashPairs(docs, 0)
        .select(col("doc_id_a").as("da"), col("doc_id_b").as("db"), col("n_match"))
      val shd = docs
        .select(col("doc_id"), explode(graftnative.api.shingleHash60(col("text"), 3)).as("sgl"))
      val sz = shd.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val iv = cand.select("da", "db")
        .join(shd.select(col("doc_id").as("da"), col("sgl").as("sgl_a")), "da")
        .join(shd.select(col("doc_id").as("db"), col("sgl").as("sgl_b")), "db")
        .filter(col("sgl_a") === col("sgl_b"))
        .groupBy("da", "db")
        .agg(count(lit(1)).as("i"))
      val pe = cand.join(iv, Seq("da", "db"), "left")
        .withColumn("i", coalesce(col("i"), lit(0L)))
      pe.join(sz.select(col("doc_id").as("da"), col("n").as("n_a")), "da")
        .join(sz.select(col("doc_id").as("db"), col("n").as("n_b")), "db")
        .withColumn("jac_e4", floor(lit(10000.0) * col("i") / (col("n_a") + col("n_b") - col("i"))))
        .groupBy("n_match")
        .agg(
          count(lit(1)).as("n_pairs"),
          sum("jac_e4").as("sum_jac_e4"),
          min("jac_e4").as("min_jac_e4"),
          max("jac_e4").as("max_jac_e4"))
        .orderBy("n_match")
    },

    // ----- x29: per-source corpus sketches via the MinHash AGGREGATE -----
    Q(
      "x29_source_sketch",
      Some {
        val ws = XText.wordsSql("text")
        val sh = XText.shinglesSql("ws", 3)
        val sigExprs = (0 until K)
          .map(i => s"min((${As(i)} * hp + ${Bs(i)}) % $P)")
          .mkString(", ")
        s"WITH w AS (SELECT source, $ws AS ws FROM documents), " +
          s"sl AS (SELECT source, $sh AS ss FROM w), " +
          s"sh AS (SELECT source, unnest(list_transform(ss, sgl -> ${h60Sql("sgl")})) AS h FROM sl), " +
          s"p AS (SELECT source, h % $P AS hp FROM sh), " +
          s"sig AS (SELECT source, [$sigExprs] AS sig FROM p GROUP BY source) " +
          "SELECT a.source AS source_a, b.source AS source_b, " +
          s"CAST(${Lsh.nMatchSql("a", "b")} AS BIGINT) " +
          "AS n_match FROM sig a JOIN sig b ON a.source < b.source " +
          "ORDER BY source_a, source_b"
      },
      "corpus-level similarity via a custom Catalyst TypedImperativeAggregate " +
        "(graftnative.MinHashAgg): each source's signature sketches the UNION of its docs' " +
        "shingle sets — state is a primitive long[16], partial merge is elementwise min " +
        "(commutative+associative, so map-side combine works and the result is partitioning- " +
        "independent). Pairwise signature agreement then estimates cross-source Jaccard " +
        "without ever joining shingles — the sketch-not-data pattern that makes corpus " +
        "comparison O(sources^2 * K) instead of O(shingles^2) at 100 TB."
    ) { (s, dir) =>
      val sh = table(s, dir, "documents")
        .select(col("source"), explode(graftnative.api.shingleHash60(col("text"), 3)).as("h"))
      val sigs = sh.groupBy("source").agg(graftnative.MinHashAgg(col("h"), K).as("sig"))
      val a = sigs.select(col("source").as("source_a"), col("sig").as("sa"))
      val b = sigs.select(col("source").as("source_b"), col("sig").as("sb"))
      val nMatch = aggregate(
        zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L),
        (acc, x) => acc + x)
      a.join(b, col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"), nMatch.as("n_match"))
        .orderBy("source_a", "source_b")
    },

    // ----- x05: embedding-cosine near-dup -----
    Q(
      "x05_embed_neardup",
      Some(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "n AS (SELECT vec_id, v, sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e), " +
          "p AS (SELECT a.vec_id AS va, b.vec_id AS vb, " +
          "list_aggregate(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]), 'sum') " +
          "/ (a.nrm * b.nrm) AS c FROM n a JOIN n b ON a.vec_id < b.vec_id) " +
          "SELECT va AS vec_id_a, vb AS vec_id_b, round(c, 4) AS cosine FROM p " +
          "WHERE c >= 0.45 ORDER BY vec_id_a, vec_id_b"),
      "cosine >= 0.45 over float64-upcast embeddings; norms precomputed per row, dot product a native " +
        "codegen expression. Quadratic verify path — at 100 TB route through the x07 LSH buckets first"
    ) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(graftnative.api.dot(col("v"), col("v"))))
      val a = e.select(col("vec_id").as("va"), col("v").as("xa"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("vb"), col("v").as("xb"), col("nrm").as("nb"))
      a.join(b, col("va") < col("vb"))
        .withColumn("cos", graftnative.api.dot(col("xa"), col("xb")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.45)
        .select(col("va").as("vec_id_a"), col("vb").as("vec_id_b"), round(col("cos"), 4).as("cosine"))
        .orderBy("vec_id_a", "vec_id_b")
    },

    // ----- x50: joint multi-signal dedup (text OR embedding pairs → one CC) -----
    Q(
      "x50_joint_dedup",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH RECURSIVE w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h " +
          "FROM documents), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1), " +
          "pt AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
          // embedding candidates = within-k-means-cluster pairs (x30's
          // candidate structure; same fixed-point trainer CTEs, nc pinned
          // at the NC literal the Spark side passes), cosine threshold on
          // candidates only
          s"${Similarity.normCtes}, ${Similarity.kmeansRankedSql}, " +
          "asg AS (SELECT r0.vec_id, r0.cid FROM r0 WHERE rn = 1), " +
          "pe AS (SELECT a.vec_id AS pa, b.vec_id AS pb FROM asg a " +
          "JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
          "JOIN n q ON q.vec_id = a.vec_id JOIN n c ON c.vec_id = b.vec_id " +
          s"WHERE ${Similarity.cosSql} >= 0.45), " +
          "p AS (SELECT pa, pb FROM pt UNION SELECT pa, pb FROM pe), " +
          "ed AS (SELECT pa, pb FROM p UNION SELECT pb, pa FROM p), " +
          "reach AS (SELECT pa AS id, pa AS comp FROM ed " +
          "UNION SELECT ed.pa AS id, r.comp FROM ed JOIN reach r ON ed.pb = r.id), " +
          "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "losers AS (SELECT id FROM comp WHERE id <> component) " +
          "SELECT source, " +
          "CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT id FROM losers)) AS BIGINT) AS n_after, " +
          "CAST(count(*) FILTER (WHERE doc_id IN (SELECT id FROM losers)) AS BIGINT) AS n_dropped " +
          "FROM documents GROUP BY source ORDER BY source"
      },
      "joint MULTI-SIGNAL dedup — what production pipelines actually run: near-dup pairs " +
        "from the TEXT signal (x04 simhash pigeonhole blocks, hamming <= 8) unioned with " +
        "pairs from the EMBEDDING signal (cosine >= 0.45 among x07 LSH-bucket candidates, " +
        "vec_id = doc_id), one connected-components pass over the union, one survivor per " +
        "cluster. Docs that evade one signal (paraphrase beats simhash; shared boilerplate " +
        "beats embeddings) are caught by the other, and transitivity works ACROSS signals " +
        "(a~b by text, b~c by cosine => one cluster). NO all-pairs path exists in the " +
        "composition — both generators are their bucketed scale selves; the union adds one " +
        "distinct on 16-byte pairs; per-source survivor/dropped accounting."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val pairs = jointPairs(docs, table(s, dir, "embeddings"), nc = Similarity.NC)
      val losers = DedupClusters.connectedComponents(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"), lit(1).as("_l"))
      docs.join(losers, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(
          sum(when(col("_l").isNull, 1L).otherwise(0L)).as("n_after"),
          sum(when(col("_l").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("source")
    },

    // ----- x50b: the joint dedup on IMI product cells (the wired x138 remediation) -----
    Q(
      "x50_joint_imi",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH RECURSIVE w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h " +
          "FROM documents), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1), " +
          "pt AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
          // embedding candidates = within-IMI-PRODUCT-CELL pairs: the two
          // half-space k-means chains (x138's oracle machinery), cell =
          // cid0 * NC + cid1, cosine threshold on candidates only
          s"${Similarity.normCtes}, " +
          s"vi0 AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * ${Similarity.VSCALE}) AS BIGINT)) " +
          "AS vfull FROM n), " +
          s"${Similarity.pqKmeansSql(0, Similarity.NC, 32)}, " +
          s"${Similarity.pqKmeansSql(1, Similarity.NC, 32)}, " +
          "ia0 AS (SELECT vec_id, cid FROM r0_m0 WHERE rn = 1), " +
          "ia1 AS (SELECT vec_id, cid FROM r0_m1 WHERE rn = 1), " +
          s"asg AS (SELECT ia0.vec_id, ia0.cid * ${Similarity.NC} + ia1.cid AS cid " +
          "FROM ia0 JOIN ia1 USING (vec_id)), " +
          "pe AS (SELECT a.vec_id AS pa, b.vec_id AS pb FROM asg a " +
          "JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
          "JOIN n q ON q.vec_id = a.vec_id JOIN n c ON c.vec_id = b.vec_id " +
          s"WHERE ${Similarity.cosSql} >= 0.45), " +
          "p AS (SELECT pa, pb FROM pt UNION SELECT pa, pb FROM pe), " +
          "ed AS (SELECT pa, pb FROM p UNION SELECT pb, pa FROM p), " +
          "reach AS (SELECT pa AS id, pa AS comp FROM ed " +
          "UNION SELECT ed.pa AS id, r.comp FROM ed JOIN reach r ON ed.pb = r.id), " +
          "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "losers AS (SELECT id FROM comp WHERE id <> component) " +
          "SELECT source, " +
          "CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT id FROM losers)) AS BIGINT) AS n_after, " +
          "CAST(count(*) FILTER (WHERE doc_id IN (SELECT id FROM losers)) AS BIGINT) AS n_dropped " +
          "FROM documents GROUP BY source ORDER BY source"
      },
      "the joint multi-signal dedup with its embedding leg on x138's IMI PRODUCT " +
        "CELLS — the wired remediation of the flat coarse quantizer's O(n·nc) " +
        "assignment: candidate cells come from two half-space codebooks (2·nc evals " +
        "per vector for nc² cells; √cells scaling under the auto rule), the " +
        "within-cell cosine threshold, pair union with the simhash text leg, CC, " +
        "and per-source survivor accounting are IDENTICAL to x50. Measured at 10×: " +
        "39.9 s vs the flat form's 53.7 s with near-identical survivors — the " +
        "product-grid recall trade (a pair must agree in BOTH half-cells) is " +
        "priced by x138's cell-health audit. Oracle re-derives both half-space " +
        "k-means chains bit-exactly."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val pairs = jointPairsImi(
        docs, table(s, dir, "embeddings"), ncHalf = Similarity.NC)
      val losers = DedupClusters.connectedComponents(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"), lit(1).as("_l"))
      docs.join(losers, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(
          sum(when(col("_l").isNull, 1L).otherwise(0L)).as("n_after"),
          sum(when(col("_l").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("source")
    },

    // ----- x50c: the joint dedup with the MinHash text leg (the >1e5-docs posture) -----
    Q(
      "x50_joint_minhash",
      Some {
        s"WITH RECURSIVE $sigSqlCtes, " +
          s"${Lsh.minhashBandsSql("bkm", "sig")}, " +
          "pt AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb " +
          "FROM bkm a JOIN bkm b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id " +
          s"WHERE ${Lsh.nMatchSql("a", "b")} >= ${K / 2}), " +
          // embedding leg: identical to x50_joint_imi (IMI product cells)
          s"${Similarity.normCtes}, " +
          s"vi0 AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * ${Similarity.VSCALE}) AS BIGINT)) " +
          "AS vfull FROM n), " +
          s"${Similarity.pqKmeansSql(0, Similarity.NC, 32)}, " +
          s"${Similarity.pqKmeansSql(1, Similarity.NC, 32)}, " +
          "ia0 AS (SELECT vec_id, cid FROM r0_m0 WHERE rn = 1), " +
          "ia1 AS (SELECT vec_id, cid FROM r0_m1 WHERE rn = 1), " +
          s"asg AS (SELECT ia0.vec_id, ia0.cid * ${Similarity.NC} + ia1.cid AS cid " +
          "FROM ia0 JOIN ia1 USING (vec_id)), " +
          "pe AS (SELECT a.vec_id AS pa, b.vec_id AS pb FROM asg a " +
          "JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
          "JOIN n q ON q.vec_id = a.vec_id JOIN n c ON c.vec_id = b.vec_id " +
          s"WHERE ${Similarity.cosSql} >= 0.45), " +
          "p AS (SELECT pa, pb FROM pt UNION SELECT pa, pb FROM pe), " +
          "ed AS (SELECT pa, pb FROM p UNION SELECT pb, pa FROM p), " +
          "reach AS (SELECT pa AS id, pa AS comp FROM ed " +
          "UNION SELECT ed.pa AS id, r.comp FROM ed JOIN reach r ON ed.pb = r.id), " +
          "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "losers AS (SELECT id FROM comp WHERE id <> component) " +
          "SELECT source, " +
          "CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT id FROM losers)) AS BIGINT) AS n_after, " +
          "CAST(count(*) FILTER (WHERE doc_id IN (SELECT id FROM losers)) AS BIGINT) AS n_dropped " +
          "FROM documents GROUP BY source ORDER BY source"
      },
      "the joint multi-signal dedup with its TEXT leg on x02's banded MinHash-LSH " +
        "instead of the simhash pigeonhole — the text-side scale posture past " +
        "~1e5 docs/shard, where the narrow 6-7-bit blocks hold n/128 docs per " +
        "bucket value (quadratic by construction) while the md5 band key's " +
        "unbounded keyspace keeps bucket occupancy tracking TRUE similarity. " +
        "Embedding leg (IMI product cells), CC, and survivor accounting are " +
        "IDENTICAL to x50_joint_imi, so the three registered x50 forms isolate " +
        "exactly one swap each. Battery twin x50_joint_imi_powerlaw_minhash " +
        "measures it on the power-law dup fixture at 100×."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val pairs = jointPairsImi(
        docs, table(s, dir, "embeddings"), ncHalf = Similarity.NC,
        textLeg = MinhashLeg)
      val losers = DedupClusters.connectedComponents(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"), lit(1).as("_l"))
      docs.join(losers, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(
          sum(when(col("_l").isNull, 1L).otherwise(0L)).as("n_after"),
          sum(when(col("_l").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("source")
    },

    // ----- x121: MinHash-LSH fidelity (S-curve + recall vs exact Jaccard) -----
    Q(
      "x121_lsh_fidelity",
      Some(fidelitySql("documents")),
      "MinHash-LSH FIDELITY — the measured S-curve behind x02's knobs: every band-" +
        "collision candidate scored against EXACT 3-gram Jaccard ≥ 0.3 (x03's rule), " +
        "grouped by signature agreement n_match: candidates / true near-dups / " +
        "precision_e6 per level — read where the minMatch threshold should sit. The " +
        "n_match = -1 summary row is RECALL: of all true pairs, how many band-collide " +
        "at all — the pairs LSH can never recover at any threshold. The dedup analog " +
        "of x113's ANN recall; the audit that justifies the sketch. The exact leg is " +
        "the declared exactness baseline; x121_lsh_fidelity_sampled engages the " +
        "sampleMod knob that makes the audit corpus-size-independent; the candidate " +
        "leg is x02's own banded join; output ≤ K+2 rows."
    ) { (s, dir) =>
      lshFidelity(table(s, dir, "documents")).orderBy("n_match")
    },

    // ----- x121b: the sampled form — fidelity as a corpus-size-independent estimate -----
    Q(
      "x121_lsh_fidelity_sampled",
      Some(fidelitySql(s"(SELECT * FROM documents WHERE doc_id % $FidelityMod = 0)")),
      "the SAMPLED LSH-fidelity audit — x121 with its doc-sample knob engaged " +
        s"(sampleMod = $FidelityMod: only docs with doc_id ≡ 0 mod $FidelityMod are " +
        "audited, BOTH legs). Fidelity is a statistical estimate — the S-curve's " +
        "per-n_match precision and the recall row converge on a sample — so its " +
        "cost must not scale with the corpus: the quadratic exact-Jaccard truth leg " +
        "shrinks ~mod² and the candidate leg ~mod, while the estimate stays " +
        "unbiased for exchangeable doc ids. Spec-pinned identity: this equals " +
        "x121 run on the pre-filtered corpus exactly. At open-web scale the mod " +
        "rises with the corpus (the x113 thinning rule) — the 10x battery runs " +
        "mod 10 as x121_lsh_fidelity_auto."
    ) { (s, dir) =>
      lshFidelity(table(s, dir, "documents"), sampleMod = FidelityMod).orderBy("n_match")
    },

    // ----- x122: cluster-diameter audit (transitive-chaining check on CC) -----
    Q(
      "x122_cluster_diameter",
      Some {
        diamSqlPrefix +
          "win AS (SELECT a.component, " +
          "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS ham " +
          "FROM m a JOIN m b ON a.component = b.component AND a.id < b.id), " +
          diamSqlRollup("CAST(0 AS BIGINT) AS n_capped")
      },
      "CLUSTER-DIAMETER audit — the transitive-chaining check on x14's connected " +
        "components: CC merges a~b~c even when a and c are NOT near-dups, and on " +
        "chain-heavy corpora (version histories, quote threads) that silently " +
        "over-merges — the survivor stands in for docs arbitrarily far from it. Per " +
        "cluster size: clusters, CHAINED clusters (some within-cluster pair exceeds " +
        "the hamming-8 pair threshold — only transitivity joined them), worst " +
        "within-cluster hamming, direct edges vs all within-cluster pairs (edge " +
        "density: clique = true duplicate pile, sparse = chain). High n_chained ⇒ " +
        "tighten the threshold or star-verify clusters against their survivor. The " +
        "diameter leg self-joins per CLUSTER — quadratic in cluster size only, never " +
        "the corpus; this is the EXACT form (n_capped ≡ 0) — " +
        "x122_cluster_diameter_capped is the mega-cluster escape hatch. Output is " +
        "|distinct sizes| rows."
    ) { (s, dir) =>
      clusterDiameter(table(s, dir, "documents")).orderBy("size")
    },

    // ----- x122b: the capped form — mega-cluster escape hatch, sampled -----
    Q(
      "x122_cluster_diameter_capped",
      Some {
        diamSqlPrefix +
          s"rk AS (SELECT id, component, simhash, row_number() OVER " +
          s"(PARTITION BY component ORDER BY ${h60Sql("CAST(id AS VARCHAR)")}, id) AS rn FROM m), " +
          s"ms AS (SELECT id, component, simhash FROM rk WHERE rn <= $DiamCap), " +
          "win AS (SELECT a.component, " +
          "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS ham " +
          "FROM ms a JOIN ms b ON a.component = b.component AND a.id < b.id), " +
          diamSqlRollup(
            s"CAST(CASE WHEN size > $DiamCap THEN count(*) ELSE 0 END AS BIGINT) AS n_capped")
      },
      "the CAPPED cluster-diameter audit — x122 with its mega-cluster escape hatch " +
        s"engaged: clusters larger than $DiamCap members are sampled down to $DiamCap " +
        "(deterministic row_number over h60(id) — WindowGroupLimit top-k, so the " +
        "shuffle carries cap rows per component, never the cluster) before the " +
        "within-cluster self-join, bounding a 1M-doc component at cap·(cap−1)/2 " +
        "pairs instead of 5·10¹¹. The reported size stays the TRUE cluster size and " +
        "n_capped counts the sampled clusters per size row, so a capped audit is " +
        "visibly an estimate (diam/edge columns are lower bounds on capped rows; " +
        "exact on uncapped ones — spec-pinned equal to x122 below the cap). This is " +
        "the form that runs at open-web scale; the same knob feeds the 10x battery " +
        "as x122_cluster_diameter_auto."
    ) { (s, dir) =>
      clusterDiameter(table(s, dir, "documents"), maxClusterSize = DiamCap).orderBy("size")
    },

    // ----- x126: dedup length bias (does dedup skew the length mixture?) -----
    Q(
      "x126_dedup_length_bias",
      Some(
        // x87's fixture: the mirror re-host of every 31st doc plus a
        // within-source re-post of every 17th — deterministic drops in
        // both engines, so every column carries signal
        "WITH aug AS (SELECT doc_id, source, text FROM documents " +
          "UNION ALL SELECT doc_id + 2000000, 'mirror', text FROM documents " +
          "WHERE doc_id % 31 = 0 " +
          "UNION ALL SELECT doc_id + 4000000, source, text FROM documents " +
          "WHERE doc_id % 17 = 0), " +
          "g AS (SELECT doc_id, source, " +
          s"CAST(len(${XText.wordsSql("text")}) AS BIGINT) AS n_tok, " +
          s"${h60Sql(normSql)} AS key FROM aug), " +
          "own AS (SELECT key, min(doc_id) AS owner_id FROM g GROUP BY key), " +
          "r AS (SELECT source, CASE WHEN doc_id = owner_id THEN 1 ELSE 0 END AS kept, " +
          "n_tok FROM g JOIN own USING (key)), " +
          "s AS (SELECT source, " +
          "CAST(sum(kept) AS BIGINT) AS n_kept, " +
          "CAST(sum(1 - kept) AS BIGINT) AS n_dropped, " +
          "CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept, " +
          "CAST(sum(CASE WHEN kept = 0 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_dropped " +
          "FROM r GROUP BY source) " +
          "SELECT source, n_kept, n_dropped, tok_kept, tok_dropped, " +
          "CAST(CASE WHEN n_kept = 0 THEN 0 ELSE " +
          "(1000000 * CAST(tok_kept AS HUGEINT)) // n_kept END AS BIGINT) AS kept_mean_e6, " +
          "CAST(CASE WHEN n_dropped = 0 THEN 0 ELSE " +
          "(1000000 * CAST(tok_dropped AS HUGEINT)) // n_dropped END AS BIGINT) AS dropped_mean_e6, " +
          "CAST(CASE WHEN n_dropped = 0 OR tok_kept = 0 THEN 0 ELSE " +
          "(1000000 * CAST(tok_dropped AS HUGEINT) * n_kept) // " +
          "(CAST(n_dropped AS HUGEINT) * tok_kept) END AS BIGINT) AS bias_e6 " +
          "FROM s ORDER BY source"),
      "DEDUP LENGTH BIAS — does exact dedup skew the length mixture? Per source " +
        "under x01's keep-first rule: kept/dropped doc counts and token masses, " +
        "exact mean lengths, and bias_e6 = (1e6·dropped-mean) div kept-mean. " +
        "Duplication is not length-independent (boilerplate shorts re-post far more " +
        "than long-form), so dedup silently shifts the token-length distribution the " +
        "trainer sees: x104 shows the after, this attributes the shift to the dedup " +
        "step and prices it per source — a bias far from 1e6 means the packing plan " +
        "(x21/x83) was tuned on a distribution dedup then changed. Fixture: x87's " +
        "mirror + re-post augmentation, so drops exist deterministically in both " +
        "engines. Rides the dedup's own shuffle (owner groupBy + join back on the " +
        "8-byte norm key, |sources|-row rollup); decimal(38)/HUGEINT on the bias " +
        "product so corpus-scale token masses cannot overflow."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select("doc_id", "source", "text")
      val aug = docs
        .unionByName(docs.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), lit("mirror").as("source"),
            col("text")))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("source"), col("text")))
      dedupLengthBias(aug).orderBy("source")
    },

    // ----- x127: dedup × quality-filter stage overlap (ordering audit) -----
    Q(
      "x127_stage_overlap",
      Some(
        // x87's fixture (mirror re-host + within-source re-post) so the
        // dedup leg has deterministic drops in both engines; n_chars
        // travels with the copies because the quality score reads it
        "WITH aug AS (SELECT doc_id, source, text, n_chars FROM documents " +
          "UNION ALL SELECT doc_id + 2000000, 'mirror', text, n_chars FROM documents " +
          "WHERE doc_id % 31 = 0 " +
          "UNION ALL SELECT doc_id + 4000000, source, text, n_chars FROM documents " +
          "WHERE doc_id % 17 = 0), " +
          s"qw AS (SELECT doc_id, source, n_chars, text, ${XText.wordsSql("text")} AS ws FROM aug), " +
          "g AS (SELECT doc_id, source, " +
          s"${TextAnalysis.qualityScoreE4Sql("n_chars", "len(ws)", TextAnalysis.hitsSql(TextAnalysis.qualityStops))} AS score_e4, " +
          s"${h60Sql(normSql)} AS key FROM qw), " +
          "own AS (SELECT key, min(doc_id) AS owner_id FROM g GROUP BY key), " +
          "j AS (SELECT source, CASE WHEN doc_id <> owner_id THEN 1 ELSE 0 END AS dd, " +
          s"CASE WHEN score_e4 < $StageThrE4 THEN 1 ELSE 0 END AS df " +
          "FROM g JOIN own USING (key)), " +
          "s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(dd) AS BIGINT) AS drop_dedup, " +
          "CAST(sum(df) AS BIGINT) AS drop_filter, " +
          "CAST(sum(dd * df) AS BIGINT) AS drop_both, " +
          "CAST(sum(dd * (1 - df)) AS BIGINT) AS only_dedup, " +
          "CAST(sum((1 - dd) * df) AS BIGINT) AS only_filter, " +
          "CAST(sum((1 - dd) * (1 - df)) AS BIGINT) AS n_survive " +
          "FROM j GROUP BY source) " +
          "SELECT source, n_docs, drop_dedup, drop_filter, drop_both, only_dedup, " +
          "only_filter, n_survive, " +
          "CAST(CASE WHEN drop_dedup = 0 THEN 0 ELSE " +
          "(1000000 * drop_both) // drop_dedup END AS BIGINT) AS subsume_e6 " +
          "FROM s ORDER BY source"),
      "PIPELINE-STAGE OVERLAP — dedup vs quality filter, the two stages that compete " +
        "to run first: both signals evaluated independently on the raw corpus (x01 " +
        "keep-first; x09 score_e4 >= " + StageThrE4 + "), every doc lands in one of " +
        "four cells, and subsume_e6 says what fraction of the dedup's drops the " +
        "filter would reap anyway. Stage ordering at 100 TB is a measured cost " +
        "decision (the cheap stage should shrink the corpus the expensive one " +
        "scans), and x90 only prices filter-vs-filter — this prices dedup-vs-filter. " +
        "Fixture: x87's mirror + re-post augmentation. Scoring is per-row inside the " +
        "scan; the dedup leg rides its own shuffle; one |sources|-row rollup."
    ) { (s, dir) =>
      val docs = table(s, dir, "documents").select("doc_id", "source", "text", "n_chars")
      val aug = docs
        .unionByName(docs.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), lit("mirror").as("source"),
            col("text"), col("n_chars")))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("source"), col("text"),
            col("n_chars")))
      stageOverlap(aug).orderBy("source")
    },

    // ----- x128: text vs embedding dedup-signal agreement -----
    Q(
      "x128_signal_agreement",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h " +
          "FROM documents WHERE doc_id IN (SELECT vec_id FROM embeddings)), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1), " +
          "pt AS (SELECT a.doc_id AS pa, b.doc_id AS pb FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
          s"${Similarity.normCtes}, ${Similarity.kmeansRankedSql}, " +
          "asg AS (SELECT r0.vec_id, r0.cid FROM r0 WHERE rn = 1), " +
          "pe AS (SELECT a.vec_id AS pa, b.vec_id AS pb FROM asg a " +
          "JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
          "JOIN n q ON q.vec_id = a.vec_id JOIN n c ON c.vec_id = b.vec_id " +
          s"WHERE ${Similarity.cosSql} >= 0.45), " +
          "j AS (SELECT CASE WHEN t.pa IS NOT NULL THEN 1 ELSE 0 END AS is_t, " +
          "CASE WHEN e2.pa IS NOT NULL THEN 1 ELSE 0 END AS is_e " +
          "FROM pt t FULL OUTER JOIN pe e2 ON t.pa = e2.pa AND t.pb = e2.pb), " +
          "c AS (SELECT CAST(coalesce(sum(is_t), 0) AS BIGINT) AS n_pairs_text, " +
          "CAST(coalesce(sum(is_e), 0) AS BIGINT) AS n_pairs_emb, " +
          "CAST(coalesce(sum(is_t * is_e), 0) AS BIGINT) AS n_both, " +
          "CAST(count(*) AS BIGINT) AS n_union FROM j), " +
          "i AS (SELECT CAST(count(*) AS BIGINT) AS n_ids FROM documents " +
          "WHERE doc_id IN (SELECT vec_id FROM embeddings)) " +
          "SELECT n_ids, n_pairs_text, n_pairs_emb, n_both, " +
          "n_pairs_text - n_both AS only_text, n_pairs_emb - n_both AS only_emb, n_union, " +
          "CAST(CASE WHEN n_union = 0 THEN 0 ELSE (1000000 * n_both) // n_union END AS BIGINT) " +
          "AS jaccard_e6 FROM i CROSS JOIN c"
      },
      "DEDUP SIGNAL AGREEMENT — do x04's simhash pairs and x50's embedding-cosine " +
        "pairs nominate the SAME near-dups? One summary row over the embedded docs " +
        "(vec_id = doc_id): pairs per signal, intersection, each side's exclusive " +
        "finds, pair-set Jaccard (e6). x50 unions the signals on the claim that each " +
        "catches what the other misses — this MEASURES that marginal value " +
        "(agreement ≈ 1e6 ⇒ the second signal is redundant cost at 100 TB; low with " +
        "both sides non-trivial ⇒ genuinely different duplication, keep both), and " +
        "an agreement shift after an encoder swap flags the embedding regression " +
        "before x50 silently changes its merges. Both generators are their bucketed " +
        "selves (pigeonhole blocks / k-means cells); the agreement join is keyed on " +
        "the 16-byte pair; text side semi-join-restricted to embedded docs before " +
        "fingerprinting."
    ) { (s, dir) =>
      signalAgreement(
        table(s, dir, "documents"), table(s, dir, "embeddings"), nc = Similarity.NC)
    },

    // ----- x129: simhash threshold sweep (the dedup-knob sensitivity curve) -----
    Q(
      "x129_threshold_sweep",
      Some {
        val ws = XText.wordsSql("text")
        s"WITH w AS (SELECT doc_id, unnest(list_transform($ws, wd -> ${h60Sql("wd")})) AS h " +
          "FROM documents), " +
          "bt AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn " +
          "FROM w CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits GROUP BY 1, 2), " +
          "sh AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) " +
          "AS simhash FROM bt GROUP BY 1), " +
          "p AS (SELECT a.doc_id AS pa, b.doc_id AS pb, " +
          "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS ham " +
          "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), " +
          "pb AS (SELECT ham, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1), " +
          "dm AS (SELECT id, min(ham) AS mh FROM " +
          "(SELECT pa AS id, ham FROM p UNION ALL SELECT pb AS id, ham FROM p) GROUP BY 1), " +
          "db AS (SELECT mh, CAST(count(*) AS BIGINT) AS c FROM dm GROUP BY 1), " +
          "g AS (SELECT CAST(unnest(generate_series(0, 8)) AS BIGINT) AS thr) " +
          "SELECT thr, " +
          "CAST(coalesce((SELECT sum(c) FROM pb WHERE ham <= thr), 0) AS BIGINT) AS n_pairs, " +
          "CAST(coalesce((SELECT sum(c) FROM db WHERE mh <= thr), 0) AS BIGINT) AS n_docs " +
          "FROM g ORDER BY thr"
      },
      "SIMHASH THRESHOLD SWEEP — the dedup-knob sensitivity curve: per hamming " +
        "threshold 0..8 (the pigeonhole-complete envelope), cumulative near-dup " +
        "pairs admitted and docs touched by ≥ 1 pair, zero-completed. The threshold " +
        "is the x04/x14/x50 family's single recall-vs-over-merge knob and the " +
        "curve's knee (where n_docs jumps) is where clusters start chaining — x100 " +
        "sweeps the quality gate, this sweeps the dedup gate, and x122 shows the " +
        "chains the chosen point produces. ONE pigeonhole candidate pass (x04's own " +
        "join, no new corpus work) banded into ≤ 9-row pair/min-hamming tables; the " +
        "grid joins those bands, never the pair stream — nine thresholds for the " +
        "price of one dedup run."
    ) { (s, dir) =>
      simhashThresholdSweep(table(s, dir, "documents")).orderBy("thr")
    }
  )
}
