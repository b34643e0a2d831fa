package graft

import org.apache.spark.sql.{Column, DataFrame}

import xscale.{DataPrep, Dedup, DedupClusters, Similarity, TextAnalysis}

/** The library's public face for training-data pipelines — one object a
  * user imports to run every corpus operation the engine implements,
  * without knowing the internal module layout. Inputs follow the
  * `documents` (doc_id, text, …) and `embeddings` (vec_id, embedding,
  * label) shapes; every method is lazy DataFrame algebra (no actions), so
  * calls compose into a single Catalyst plan and inherit the scale
  * posture documented on the underlying operator.
  *
  * The oracle-checked query battery (`SparkEntry.queries`) is built FROM
  * these same functions, so library callers get exactly the semantics the
  * DuckDB cross-checks pin down.
  */
object TrainingData {

  // ---- deduplication ----

  /** Exact dedup on aggressively normalized text; keeps min doc_id. */
  def dedupExact(docs: DataFrame): DataFrame = Dedup.dedupExact(docs)

  /** MinHash-LSH near-dup candidate pairs (16 perms, 4 bands × 4 rows). */
  def minhashPairs(docs: DataFrame): DataFrame = Dedup.minhashPairs(docs)

  /** SimHash near-dup pairs; `wide = true` switches to the 120-bit Manku
    * configuration for shards beyond ~1e5 docs.
    */
  def simhashPairs(docs: DataFrame, wide: Boolean = false): DataFrame =
    Dedup.simhashPairs(docs, wide)

  /** Exact n-gram Jaccard pairs (the verify step for the sketches). */
  def jaccardPairs(docs: DataFrame, k: Int = 3, num: Int = 3, den: Int = 10): DataFrame =
    Dedup.jaccardPairs(docs, k, num, den)

  /** Directional containment pairs (quote / excerpt detection). */
  def containmentPairs(docs: DataFrame, k: Int = 4, num: Int = 8, den: Int = 10): DataFrame =
    Dedup.containmentPairs(docs, k, num, den)

  /** IMAGE near-dup pairs (x139): dHash over the REAL decoded luma plane
    * (javax.imageio, oversize-hardened), 16-bit-banded pigeonhole join,
    * hamming-verified — catches the re-encoded/re-brightened copies byte
    * and text hashing cannot see. Input (doc_id, payload binary);
    * undecodable rows are skipped (count them via
    * [[xscale.PerceptualDedup.imageHashFrame]]'s `decoded` flag). Set
    * `wide = true` past ~1e6 docs ([[xscale.PerceptualDedup.BandBoundary]]);
    * `maxHamming < 0` picks the width-appropriate threshold (3 classic,
    * 7 wide). Pass `checkpointDir` on a real cluster: the hashed frame's
    * cut is then storage-backed instead of executor-local.
    */
  def imageNearDupPairs(media: DataFrame, wide: Boolean = false,
      maxHamming: Int = -1, checkpointDir: Option[String] = None): DataFrame =
    xscale.PerceptualDedup.imageNearDupPairs(media, wide, maxHamming, checkpointDir)

  /** AUDIO near-dup pairs (x140): frame-sum dHash through the hardened
    * RIFF PCM walk — gain-invariant by construction; same banded join,
    * same `wide` swap past [[xscale.PerceptualDedup.BandBoundary]]
    * (257 frames → 256 bits → 8 × 32-bit bands).
    */
  def audioNearDupPairs(media: DataFrame, wide: Boolean = false,
      maxHamming: Int = -1, checkpointDir: Option[String] = None): DataFrame =
    xscale.PerceptualDedup.audioNearDupPairs(media, wide, maxHamming, checkpointDir)

  /** VIDEO near-dup pairs (x145): temporal dHash over frame-window luma
    * sums through the hardened AVI walk — invariant to brightness shift
    * AND k× re-render by construction; same banded join, same `wide`
    * swap past [[xscale.PerceptualDedup.BandBoundary]] (257 windows →
    * 256 bits → 8 × 32-bit bands).
    */
  def videoNearDupPairs(media: DataFrame, wide: Boolean = false,
      maxHamming: Int = -1, checkpointDir: Option[String] = None): DataFrame =
    xscale.PerceptualDedup.videoNearDupPairs(media, wide, maxHamming, checkpointDir)

  /** DIRECTIONAL video containment (x147): trimmed/re-cut copies via
    * distinct frame-bigram fingerprints — the case the whole-clip hash
    * ([[videoNearDupPairs]]) misses by design; the two cover each
    * other's blind spot (a trim that also re-brightens needs the hash).
    */
  def videoContainmentPairs(media: DataFrame, num: Int = 4, den: Int = 5,
      checkpointDir: Option[String] = None): DataFrame =
    xscale.PerceptualDedup.videoContainmentPairs(media, num, den, checkpointDir)

  /** The x147 SCALE path: MinHash-LSH candidates over the shingle sets,
    * exact containment verify on candidates only — precision 1.0, recall
    * on the Jaccard S-curve (extreme length ratios need the exact form;
    * see [[xscale.PerceptualDedup.videoContainmentPairsLsh]]).
    */
  def videoContainmentPairsLsh(media: DataFrame, num: Int = 4, den: Int = 5,
      k: Int = 16, bands: Int = 4, checkpointDir: Option[String] = None): DataFrame =
    xscale.PerceptualDedup.videoContainmentPairsLsh(media, num, den, k, bands, checkpointDir)

  /** THUMBNAIL provenance (x148): which images are frames of which
    * videos — every `every`-th frame extracted as a standalone BMP
    * (container surgery, no re-encode) and dHash-matched against the
    * image table through one shared hash function. Returns
    * (doc_id, vid_id, frame_idx).
    */
  def thumbnailMatches(images: DataFrame, videos: DataFrame, every: Int = 16,
      maxHamming: Int = -1, checkpointDir: Option[String] = None): DataFrame =
    xscale.PerceptualDedup.thumbnailMatches(images, videos, every,
      if (maxHamming < 0) xscale.PerceptualDedup.MaxHamming else maxHamming,
      checkpointDir)

  /** MIXED-modality near-dup pairs — the corpus `--pdedup` stage's
    * generator: one pass modality-detects and hashes images, audio clips
    * AND videos ([[xscale.PerceptualDedup.mediaHashFrame]]), keeps them
    * in disjoint candidate spaces, and emits hamming-verified pairs for
    * all three. Pick `wide` with [[xscale.PerceptualDedup.mediaWideFor]]
    * on the media count.
    */
  def mediaNearDupPairs(media: DataFrame, wide: Boolean = false,
      maxHamming: Int = -1, checkpointDir: Option[String] = None): DataFrame =
    xscale.PerceptualDedup.mediaNearDupPairs(media, wide, maxHamming, checkpointDir)

  /** Per-clip audio QUALITY counters (x143): exact-integer silence /
    * clipping / energy stats over real PCM payloads — the audio analog of
    * [[qualityFilter]]'s text rules; the drop rule is the caller's (e.g.
    * `n_silent/n_samples > 0.9` or `n_clipped/n_samples > 0.05`).
    */
  def audioQuality(media: DataFrame, silenceMax: Long = 1L): DataFrame =
    xscale.Multimodal.audioQualityFrame(media, silenceMax)

  /** Per-image EXPOSURE counters (x144): exact-integer crushed-black /
    * blown-white pixel mass + mean/variance sufficient statistics over e3
    * BT.601 luma — [[audioQuality]]'s twin for the pixel modality; the
    * drop rule is the caller's (e.g. `n_dark/n_px > 0.95`).
    */
  def imageExposure(
      media: DataFrame,
      darkMaxE3: Long = 30000L,
      brightMinE3: Long = 225000L): DataFrame =
    xscale.Multimodal.imageExposureFrame(media, darkMaxE3, brightMinE3)

  /** Per-clip UTTERANCE segmentation (x151): silence-gap splitting with
    * pauses kept inside utterances — the VAD-style signal speech
    * curation keys on; (doc_id, decoded, n_samples, n_utterances,
    * longest_utterance).
    */
  def audioUtterances(media: DataFrame, silenceMax: Long = 1L, gapMin: Int = 8): DataFrame =
    xscale.Multimodal.audioUtteranceFrame(media, silenceMax, gapMin)

  /** Near-dup pairs → connected components → one survivor per cluster.
    * Pass `checkpointDir` on a real cluster: iteration state then persists
    * to reliable storage and survives executor loss (executor-local
    * checkpoints, the default, are irrecoverable mid-iteration). Pass
    * `salts` > 1 when the pair graph has a mega-component (one boilerplate
    * phrase cloned corpus-wide): its hub node is a hot join key AQE's
    * skew rewrite cannot reach (the labels side is agg-fed), and salting
    * splits it across reducers with row-identical results.
    */
  def dedupByPairs(docs: DataFrame, pairs: DataFrame,
      checkpointDir: Option[String] = None, salts: Int = 1): DataFrame =
    DedupClusters.dedupByPairs(docs, pairs, checkpointDir = checkpointDir, salts = salts)

  /** Components of an (a, b) pair list by label propagation (near-dup
    * clique piles) — [[connectedComponentsStar]] for high-diameter graphs.
    */
  def connectedComponents(pairs: DataFrame,
      checkpointDir: Option[String] = None, salts: Int = 1): DataFrame =
    DedupClusters.connectedComponents(pairs, checkpointDir = checkpointDir, salts = salts)

  def connectedComponentsStar(pairs: DataFrame,
      checkpointDir: Option[String] = None): DataFrame =
    DedupClusters.connectedComponentsStar(pairs, checkpointDir = checkpointDir)

  // ---- similarity search ----

  /** Exact cosine top-k for rows matching `isQuery` (baseline). */
  def knnBrute(emb: DataFrame, isQuery: Column, k: Int = 3): DataFrame =
    Similarity.knnBrute(emb, isQuery, k)

  /** Multi-table random-hyperplane LSH top-k (the scale path). */
  def knnLsh(emb: DataFrame, isQuery: Column, k: Int = 3): DataFrame =
    Similarity.knnLsh(emb, isQuery, k)

  /** Hard-negative mining: top-k most-similar vectors with a DIFFERENT
    * label per query (x41) — contrastive-training negatives.
    */
  def hardNegatives(emb: DataFrame, isQuery: Column, k: Int = 3): DataFrame =
    Similarity.hardNegatives(emb, isQuery, k)

  /** Product-quantization codes (x58): per-vector (m, code, sqerr) from m
    * independent fixed-point codebooks — m bytes/vector instead of 64
    * floats, the memory step FAISS composes with IVF.
    */
  def pqCodes(emb: DataFrame, m: Int = Similarity.PqM, nc: Int = Similarity.NC,
      trainSample: Double = 1.0, checkpointDir: Option[String] = None): DataFrame =
    Similarity.pqCodes(emb, m, nc, trainSample, checkpointDir)

  /** Code-only ADC top-k over PQ codes (x59) — the corpus is touched only
    * through its codes at query time.
    */
  def pqAdcKnn(emb: DataFrame, isQuery: Column, k: Int = 3,
      m: Int = Similarity.PqM, nc: Int = Similarity.NC,
      trainSample: Double = 1.0, checkpointDir: Option[String] = None): DataFrame =
    Similarity.pqAdcKnn(emb, isQuery, k, m, nc, trainSample, checkpointDir)

  /** ADC shortlist + exact rerank (x60) — the production IVFPQ search;
    * `shortlist` is the recall/IO knob (full vectors read for
    * shortlist × |queries| rows only).
    */
  def pqAdcRerank(emb: DataFrame, isQuery: Column, k: Int = 3,
      shortlist: Int = 50, m: Int = Similarity.PqM, nc: Int = Similarity.NC,
      trainSample: Double = 1.0, checkpointDir: Option[String] = None): DataFrame =
    Similarity.pqAdcRerank(emb, isQuery, k, shortlist, m, nc, trainSample, checkpointDir)

  /** True IVFPQ search (x68; Jégou et al. 2011, the FAISS IndexIVFPQ
    * architecture): coarse cells route the corpus, each vector stores
    * cell id + m residual PQ codes, search probes `nprobe` cells,
    * ADC-scans only their codes and exactly reranks a shortlist. The
    * 100 TB ANN flagship: candidate scan bounded by nprobe/ncCoarse of
    * the corpus, corpus resident as cid + m bytes per vector.
    */
  def ivfPqKnn(emb: DataFrame, isQuery: Column, k: Int = 3,
      nprobe: Int = Similarity.NPROBE, shortlist: Int = 50,
      m: Int = Similarity.PqM, ncCoarse: Int = Similarity.NC,
      ncPq: Int = Similarity.NC, trainSample: Double = 1.0,
      checkpointDir: Option[String] = None): DataFrame =
    Similarity.ivfPqKnn(emb, isQuery, k, nprobe, shortlist, m, ncCoarse,
      ncPq, trainSample, checkpointDir)

  /** Dimension-truncation fidelity (x65, Matryoshka audit): per prefix
    * length, cosine drift and top-1 preservation over the exact full-dim
    * top-k — the decision input for serving truncated embeddings.
    */
  def matryoshkaFidelity(emb: DataFrame, isQuery: Column,
      dims: Seq[Int] = Seq(8, 16, 32, 64), k: Int = 3,
      checkpointDir: Option[String] = None): DataFrame =
    Similarity.matryoshkaFidelity(emb, isQuery, dims, k, checkpointDir)

  /** SemDeDup: k-means-cluster the embeddings, drop vectors with a
    * cosine >= tau neighbor farther from their cluster centroid —
    * candidate pairs are within-cluster only, never corpus². nc <= 0
    * (the default) derives the cluster count from the corpus size
    * (~[[Similarity.TargetClusterSize]]-vector clusters), which keeps the
    * within-cluster pair work linear in the corpus; trainSample < 1 trains
    * the quantizer on a deterministic hash-sample.
    */
  def semDedup(emb: DataFrame, tau: Double = Similarity.SEMDEDUP_TAU,
      nc: Int = 0, trainSample: Double = 1.0,
      checkpointDir: Option[String] = None): DataFrame =
    Similarity.semDedup(emb, tau, nc, trainSample, checkpointDir)

  // ---- text analysis / quality ----

  /** Docs passing every Gopher/C4 rule. */
  def qualityFilter(docs: DataFrame): DataFrame = TextAnalysis.qualityFilter(docs)

  /** Gopher char-fraction repetition counters (top-n-gram products,
    * dup-n-gram positional coverage) in one native pass per row.
    */
  def repetitionAnnotate(docs: DataFrame): DataFrame =
    TextAnalysis.repetitionAnnotate(docs)

  /** Docs passing every char-fraction repetition rule (x31). */
  def repetitionFilter(docs: DataFrame): DataFrame =
    TextAnalysis.repetitionFilter(docs)

  /** Corpus-self-trained bigram LM score + CCNet-style tercile bucket
    * per doc (integer-exact fixed-point; see x33).
    */
  def lmScore(docs: DataFrame, broadcastModel: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame =
    TextAnalysis.lmScore(docs, broadcastModel, checkpointDir)

  /** Held-out LM evaluation (x67): fit the bigram model on `isTrain` rows
    * only, score the rest per `splitCol` with OOV accounted — memorizing
    * train cannot inflate held-out scores.
    */
  def lmHeldout(docs: DataFrame, isTrain: Column, splitCol: Column,
      broadcastModel: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame =
    TextAnalysis.lmHeldout(docs, isTrain, splitCol, broadcastModel, checkpointDir)

  /** x33 at scale: identical score, tercile bucket from sampled
    * `approx_percentile` thresholds instead of the global ntile window
    * (which is a one-partition sort of the corpus). >= 95% bucket
    * agreement with the exact terciles is spec-pinned.
    */
  def lmScoreSampled(docs: DataFrame, sampleFraction: Double = 0.1,
      checkpointDir: Option[String] = None): DataFrame =
    TextAnalysis.lmScoreSampled(docs, sampleFraction, checkpointDir = checkpointDir)

  // ---- corpus preparation ----

  /** Deterministic 90/5/5 train/val/test tag (`split` column). */
  def splitAssign(docs: DataFrame): DataFrame = DataPrep.splitAssign(docs)

  /** Concat-and-chunk sequence packing: (doc_id, n_tok, shard, pack). */
  def packAssignments(docs: DataFrame, budget: Int = DataPrep.PackBudget,
      shards: Int = DataPrep.PackShards): DataFrame =
    DataPrep.packAssignments(docs, budget, shards)

  /** Exact-k deterministic sample per stratum; `quota` may vary by row. */
  def stratifiedSample(docs: DataFrame, stratum: String, quota: Column): DataFrame =
    DataPrep.stratifiedSample(docs, stratum, quota)

  /** Symmetric int8 floor-quantization of embeddings (per-vector scale). */
  def quantizeInt8(emb: DataFrame): DataFrame = DataPrep.quantizeInt8(emb)

  /** Exact-substring contamination coverage (Lee et al. hash-window form):
    * per-doc fraction of tokens covered by k-token windows shared with
    * other docs.
    */
  def substringCoverage(docs: DataFrame, k: Int = DataPrep.SubstrK): DataFrame =
    DataPrep.substringCoverage(docs, k)

  /** RAG-style overlapping chunking with 1-based token offsets. */
  def chunkDocs(docs: DataFrame, window: Int = DataPrep.ChunkW,
      stride: Int = DataPrep.ChunkS): DataFrame =
    DataPrep.chunkDocs(docs, window, stride)

  /** Snapshot diff of two corpus versions by (doc_id, content hash):
    * added / removed / changed / unchanged per doc with token counts.
    */
  def corpusDiff(a: DataFrame, b: DataFrame): DataFrame = DataPrep.corpusDiff(a, b)

  /** Per-source audit card: docs, tokens, dup excess, vocabulary,
    * languages, token-length envelope.
    */
  def datasheet(docs: DataFrame): DataFrame = DataPrep.datasheet(docs)

  /** The audit card with HLL++ approximate distincts — the 100 TB form. */
  def datasheetApprox(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    DataPrep.datasheetApprox(docs, rsd)

  /** The audit card with per-source booleans asserting the HLL estimates
    * sit inside the 3×rsd envelope of the exact distincts (x40 bounds).
    */
  def datasheetApproxBounds(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    DataPrep.datasheetApproxBounds(docs, rsd)

  /** Duplicated-span removal (x43): keep ONE copy of every shared k-token
    * window (owned by its smallest doc_id); other occurrences are cut and
    * each doc's text re-assembled from surviving tokens.
    */
  def removeSharedSpans(docs: DataFrame, k: Int = DataPrep.SubstrK): DataFrame =
    DataPrep.removeSharedSpans(docs, k)

  /** BPE merge training (x62, Sennrich et al. 2016): the learned merge
    * table (round, pair, merged, cnt) — corpus scanned once into a
    * frequency-weighted word-type vocab, every round vocab-bounded.
    */
  def bpeTrain(docs: DataFrame, merges: Int = TextAnalysis.BpeMerges,
      checkpointDir: Option[String] = None): Seq[(Long, String, String, Long)] =
    TextAnalysis.bpeTrain(docs, merges, checkpointDir)

  /** Tokenize with a learned merge table (x63): per-doc char/symbol counts
    * and chars-per-symbol, zero-shuffle expression chain.
    */
  def bpeTokenCounts(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    TextAnalysis.bpeTokenCounts(docs, merges)

  /** Span-level decontamination (x64): cut EVERY occurrence of every
    * k-token window shared with `bench` — zero copies kept (x43's
    * keep-one rule is for intra-corpus dedup; benchmarks must not leak).
    */
  def removeContaminatedSpans(docs: DataFrame, bench: DataFrame,
      k: Int = DataPrep.SubstrK): DataFrame =
    DataPrep.removeContaminatedSpans(docs, bench, k)

  /** Top-k integer-exact TF-IDF keywords per doc (x44). */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame =
    TextAnalysis.tfidfKeywords(docs, k)

  /** Per-doc first-occurrence shingle novelty (x45). `orderCol` defines
    * "first" — pass the crawl timestamp when the corpus has one (x56); the
    * doc_id default is the hash-order stand-in.
    */
  def shingleNovelty(docs: DataFrame, k: Int = 3,
      orderCol: Column = org.apache.spark.sql.functions.col("doc_id")): DataFrame =
    TextAnalysis.shingleNovelty(docs, k, orderCol)

  /** Label-centroid cosine matrix over the embeddings (x46) — the
    * confusable-class diagnostic behind hard-negative mining.
    */
  def labelCentroidSim(emb: DataFrame): DataFrame =
    Similarity.labelCentroidSim(emb)

  /** Cross-source duplication matrix (x47): per source pair, the number
    * of exact-dup groups spanning both — the which-source-copies-whom
    * audit for multi-source mixes.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = Dedup.sourceOverlap(docs)

  /** Per-source dedup survivorship (x87): under exact dedup's keep-first
    * rule, each source's docs in / kept / dropped, with drops attributed
    * to a same-source owner (internal redundancy) vs a different-source
    * owner (re-hosted content) — the per-source bill for the x47 matrix.
    */
  def dedupSurvivorship(docs: DataFrame): DataFrame = Dedup.dedupSurvivorship(docs)

  /** Survivor regret (x94): per near-dup cluster, the min-id survivor's
    * quality vs the cluster best — the measured case for a quality-aware
    * survivor rule. `score` is a per-doc (doc_id, score_e4) frame.
    */
  def survivorRegret(pairs: DataFrame, score: DataFrame): DataFrame =
    Dedup.survivorRegret(pairs, score)

  /** Quality-aware cluster dedup: [[dedupByPairs]]'s semantics with the
    * survivor chosen by argmax `score` (ties to the smaller doc_id) —
    * the remediation for nonzero [[survivorRegret]].
    */
  def dedupByPairsKeepBest(docs: DataFrame, pairs: DataFrame, score: Column,
      maxIter: Int = 20, checkpointDir: Option[String] = None,
      salts: Int = 1): DataFrame =
    DedupClusters.dedupByPairsKeepBest(docs, pairs, score, maxIter, checkpointDir, salts)

  /** Joint multi-signal dedup (x50): one survivor per connected component
    * of the UNION of text-near-dup (simhash) and embedding-near-dup
    * (cosine) pairs — transitivity works across signals.
    *
    * On a real cluster pass BOTH scale knobs: `trainSample` < 1 trains the
    * k-means quantizer on a deterministic hash-sample (one sampled scan per
    * training round instead of the full corpus), and `checkpointDir` makes
    * every materialization — the cluster assignment AND each CC iteration —
    * a reliable checkpoint that survives executor loss. Defaults preserve
    * the single-node behavior (full-corpus training, executor-local
    * checkpoints).
    */
  def jointDedup(docs: DataFrame, emb: DataFrame,
      hamming: Int = 8, tau: Double = 0.45,
      trainSample: Double = 1.0,
      checkpointDir: Option[String] = None): DataFrame =
    DedupClusters.dedupByPairs(
      docs,
      Dedup.jointPairs(docs, emb, hamming, tau,
        trainSample = trainSample, checkpointDir = checkpointDir),
      checkpointDir = checkpointDir)

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
      checkpointDir: Option[String] = None,
      textLeg: Dedup.TextLeg = Dedup.SimhashLeg): DataFrame =
    DedupClusters.dedupByPairs(
      docs,
      Dedup.jointPairsImi(docs, emb, hamming, tau, ncHalf,
        trainSample = trainSample, checkpointDir = checkpointDir, textLeg = textLeg),
      checkpointDir = checkpointDir)

  /** Pack hygiene audit (x66): per (shard, pack) doc count, source
    * diversity and duplicate EXCESS (norm-key collisions inside the same
    * context window — wasted compute + memorization risk).
    */
  def packHygiene(docs: DataFrame, budget: Int = DataPrep.PackBudget,
      shards: Int = DataPrep.PackShards): DataFrame = {
    import org.apache.spark.sql.functions._
    val keyed = docs.select(col("doc_id"), col("source"),
      xscale.XHash.h60(Dedup.normText(col("text"))).as("key"))
    DataPrep.packAssignments(docs, budget, shards)
      .join(keyed, "doc_id")
      .groupBy("shard", "pack")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"),
        (count(lit(1)) - countDistinct("key")).as("dup_excess"))
  }

  /** Pack repair (x69) — the remediation for [[packHygiene]]'s audit:
    * within-pack duplicate-key docs swap with same-n_tok, globally-unique
    * docs from collision-free packs (deterministic rank matching, guarded
    * against creating new collisions), preserving every pack's doc count
    * and token budget exactly. Input needs (doc_id, text); an optional
    * ord column overrides the hash packing order. Returns the repaired
    * (doc_id, key, n_tok, shard, pack, moved).
    */
  def packRepair(docs: DataFrame, budget: Int = DataPrep.PackBudget,
      shards: Int = DataPrep.PackShards): DataFrame =
    DataPrep.packRepair(docs, budget, shards)

  /** Shard-export manifest (x49): per (shard, pack) doc/token counts and
    * an order-independent bit_xor content checksum — the integrity
    * handshake between pipeline and training run.
    */
  def shardManifest(docs: DataFrame, budget: Int = DataPrep.PackBudget,
      shards: Int = DataPrep.PackShards): DataFrame =
    DataPrep.shardManifest(docs, budget, shards)

  /** Mergeable-sketch union datasheet (x48): per-source exact union
    * distincts of two corpus versions beside a boolean asserting the
    * merged HLL estimate lands in the envelope — incremental corpus-card
    * maintenance without rescanning history.
    */
  def sketchUnionDatasheet(a: DataFrame, b: DataFrame, envelope: Double = 0.05): DataFrame =
    DataPrep.sketchUnionDatasheet(a, b, envelope)

  /** DSIR-style importance weights: score every non-target doc by how
    * target-like its hashed unigram+bigram features are (x51; log dropped
    * for integer-exact scores — see [[xscale.DataPrep.dsirWeights]]).
    */
  def dsirWeights(docs: DataFrame, isTarget: Column,
      buckets: Int = DataPrep.DsirBuckets): DataFrame =
    DataPrep.dsirWeights(docs, isTarget, buckets)

  /** Cluster-balanced quality selection: cap each semantic (k-means)
    * cluster's contribution at `cap` docs, preferring the highest x09
    * quality score inside every cluster (x52). nc defaults to
    * corpus-proportional (mean cluster ≈ 64 docs); `trainSample` trains
    * the quantizer on a deterministic hash-sample at scale.
    */
  def clusterCap(emb: DataFrame, docs: DataFrame,
      cap: Int = Similarity.ClusterCap, nc: Int = 0,
      trainSample: Double = 1.0,
      checkpointDir: Option[String] = None): DataFrame =
    Similarity.clusterCapped(emb, docs, cap, nc, trainSample, checkpointDir)

  /** Heaps'-law vocabulary-growth curve over deterministic hash-arrival
    * phases (x53) — per-phase docs/tokens/first-seen terms + running
    * vocabulary.
    */
  def vocabGrowth(docs: DataFrame, phases: Int = TextAnalysis.VocabPhases,
      phaseCol: Option[Column] = None): DataFrame =
    TextAnalysis.vocabGrowth(docs, phases, phaseCol)

  /** Prototype pruning (Sorscher et al. 2022): keep the hardest ceil(n/2)
    * per k-means cluster by distance-to-centroid (x54). nc defaults to
    * corpus-proportional; `trainSample` trains the quantizer on a
    * deterministic hash-sample at scale.
    */
  def protoPrune(emb: DataFrame, nc: Int = 0, trainSample: Double = 1.0,
      checkpointDir: Option[String] = None): DataFrame =
    Similarity.protoPrune(emb, nc, trainSample, checkpointDir)

  /** Temperature-scaled mixture sampling (x70, Arivazhagan et al. 2019;
    * α = 1/2): flatten a group histogram (language, source) toward
    * `target` docs — dominant groups downsample, low-resource groups keep
    * everything. Deterministic hash draw; adds (n_docs, w_e3, p_e6, kept)
    * per doc.
    */
  def temperatureMix(docs: DataFrame, by: String = "lang",
      target: Long = DataPrep.MixTarget): DataFrame =
    DataPrep.temperatureMix(docs, by, target)

  /** Corpus-wide top-k repeated word n-grams (x71) — the boilerplate
    * DISCOVERY pass whose output feeds span removal (x43/x64). Columns
    * (h, gram, cnt, n_docs), ranked (cnt desc, h).
    */
  def topNgrams(docs: DataFrame, k: Int = TextAnalysis.TopNgramK,
      topK: Int = TextAnalysis.TopNgramN): DataFrame =
    TextAnalysis.topNgrams(docs, k, topK)

  /** Centroid (Rocchio) classifier (x76): the integer-exact skeleton of
    * classifier-based filtering — per-class e6 token-frequency prototypes
    * trained in ONE aggregation pass over the train split, held-out docs
    * scored by sparse dot product, argmax per doc. The model is a
    * broadcastable |vocab| x |classes| table; scoring is one 8-byte-hash
    * join — the shape that lets linear filters run over trillions of
    * tokens.
    */
  def centroidClassify(docs: DataFrame, labelCol: Column): DataFrame =
    DataPrep.centroidClassify(docs, labelCol)

  /** Bloom-prefiltered decontamination audit (x75): a bit-packed Bloom
    * filter over the train split's distinct word-k-gram hashes
    * (corpus-size-independent broadcast state), probed by every held-out
    * shingle, with the exact train join alongside so the per-doc output
    * separates true overlaps from Bloom false positives. At 100 TB the
    * probe is a zero-shuffle broadcast scan; only flagged shingles need
    * reach an exact join.
    */
  def bloomDecontam(docs: DataFrame, k: Int = 5): DataFrame =
    DataPrep.bloomDecontam(docs, k)

  /** Label-retrieval eval (x85): per-label MRR and hits@k of the embedding
    * space under exact fixed-point L2 — the metric an embedding (or its
    * quantized serving form) ships against. Broadcast queries, one corpus
    * scan.
    */
  def labelRetrieval(emb: DataFrame, isQuery: Column): DataFrame =
    Similarity.labelRetrieval(emb, isQuery)

  /** BM25-surrogate self-retrieval eval (x88) — [[labelRetrieval]]'s
    * lexical twin: every qMod-th doc queries with words from its own
    * body; candidates are BM25-ranked (exact tf saturation and length
    * norm, monotone rational idf) and the source doc's rank yields
    * per-source MRR, hits@1, hits@10.
    */
  def bm25Retrieval(docs: DataFrame, qMod: Int = TextAnalysis.BmQMod,
      maxDfPpm: Long = 1000000L): DataFrame =
    TextAnalysis.bm25Retrieval(docs, qMod, maxDfPpm)

  /** RAG index build (x91): chunk -> signed-feature-hash embed ->
    * fixed-point coarse quantizer -> per-cell manifest, as one composed
    * job — the retrieval-side counterpart of the x57 corpus pipeline.
    */
  def ragIndex(docs: DataFrame, seedCap: Long = Similarity.RagSeedCap,
      trainSample: Double = 1.0, checkpointDir: Option[String] = None): DataFrame =
    Similarity.ragIndex(docs, seedCap, trainSample, checkpointDir)

  /** RAG retrieval (x92): nprobe cell-probed search over the [[ragIndex]]
    * with a built-in self-retrieval eval — per source, the rank of the
    * query chunk's nearest sibling (MRR, hits@1, hits@10); misses measure
    * the nprobe recall loss.
    */
  def ragRetrieval(docs: DataFrame, qMod: Int = TextAnalysis.BmQMod,
      nprobe: Int = Similarity.NPROBE, seedCap: Long = Similarity.RagSeedCap,
      trainSample: Double = 1.0, checkpointDir: Option[String] = None): DataFrame =
    Similarity.ragRetrieval(docs, qMod, nprobe, seedCap, trainSample, checkpointDir)

  /** Incremental IVFPQ add (x79): admit a batch of new vectors into an
    * existing index — frozen coarse centroids and PQ codebooks, per-cell
    * add-vs-base quantization-error drift as the retrain trigger. The add
    * path never touches the corpus: both assignment joins are broadcast
    * centroid lookups.
    */
  def ivfPqAdd(emb: DataFrame, batch: DataFrame, m: Int = Similarity.PqM,
      ncCoarse: Int = Similarity.NC, ncPq: Int = Similarity.NC,
      trainSample: Double = 1.0, checkpointDir: Option[String] = None): DataFrame =
    Similarity.ivfPqAdd(emb, batch, m, ncCoarse, ncPq, trainSample, checkpointDir)

  /** Tokenizer fertility by language (x78): chars-per-token (e6) per lang
    * under a learned BPE merge table — the equity audit multilingual
    * pipelines run before a tokenizer ships. Zero-shuffle tokenize pass +
    * a |languages|-row rollup.
    */
  def bpeFertility(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    TextAnalysis.bpeFertility(docs, merges)

  /** Padding-efficiency audit (x83): per-shard padding cost of fixed-size
    * batches under arrival order vs length-grouped order — the measured
    * case for a length-grouped sampler. Per-shard windows only; 2·|shards|
    * output rows.
    */
  def padEfficiency(docs: DataFrame, shards: Int = DataPrep.PackShards,
      b: Int = DataPrep.PadBatch): DataFrame =
    DataPrep.padEfficiency(docs, shards, b)

  /** Shard interleaving audit (x82): run-lengths of consecutive
    * same-source docs in the trainer's actual (pack-order) read stream —
    * measures the mixing hash-shuffling is supposed to buy. Rides the pack
    * writer's own per-shard sort; |shards| output rows.
    */
  def shardMixing(docs: DataFrame, shards: Int = DataPrep.PackShards): DataFrame =
    DataPrep.shardMixing(docs, shards)

  /** Token-budget / epoch planner (x81): per-source token allocations for
    * a BudgetMult-x training budget under x70's sqrt temperature weights,
    * hard-capped at EpochCap epochs with one deterministic redistribution
    * round — the data-constrained-scaling plan a sampler implements. One
    * corpus scan, then |sources|-row algebra.
    */
  def tokenBudget(docs: DataFrame): DataFrame = DataPrep.tokenBudget(docs)

  /** Memorization-risk audit (x84): per-source fraction of corpus-unique
    * k-token windows — the extractable-span signal a privacy review reads
    * after dedup. One window scan + df count + keyed rollups.
    */
  def rareWindows(docs: DataFrame, k: Int = TextAnalysis.RareK): DataFrame =
    TextAnalysis.rareWindows(docs, k)

  /** Token frequency spectrum (x80): types and occurrence mass per
    * doubling frequency bucket — the rank-free Zipf shape check for a
    * datasheet, integer bit-math only. One token scan + a <=64-row rollup.
    */
  def freqSpectrum(docs: DataFrame): DataFrame = TextAnalysis.freqSpectrum(docs)

  /** Count-min-sketch heavy hitters (x77): x71's open-web scale path —
    * every n-gram occurrence folds into a corpus-size-independent counter
    * grid (12288 longs, map-side combinable), and each exact top-k gram is
    * re-estimated from the sketch so the overcount is a measured number.
    * At 100 TB the sketch runs first and seeds the exact pass with heavy
    * hitters only.
    */
  def cmsHeavyHitters(docs: DataFrame, k: Int = TextAnalysis.TopNgramK,
      topK: Int = TextAnalysis.TopNgramN): DataFrame =
    TextAnalysis.cmsHeavyHitters(docs, k, topK)

  /** Incremental admission dedup (x74): classify an arriving batch against
    * an existing corpus — exact corpus dup / exact batch-internal dup /
    * MinHash-band near-dup of a corpus doc / admitted — without
    * re-clustering the corpus. The daily-ingest posture: every join is
    * batch-vs-corpus, the corpus contributes one key projection and one
    * signature scan.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      minMatch: Int = Dedup.K / 2): DataFrame =
    Dedup.incrementalDedup(corpus, batch, minMatch)

  /** The persistable DEDUP STATE of a doc set (doc_id, 60-bit exact key,
    * K-minhash sig) — one text pass; persist it beside the corpus and
    * [[incrementalDedupSigs]] classifies every later batch with ZERO
    * corpus text access (the frozen-index pattern applied to dedup state;
    * `Cli admit --sigs` is this wired as a verb).
    */
  def dedupSignatures(docs: DataFrame): DataFrame =
    Dedup.dedupSignatures(docs)

  /** [[incrementalDedup]] on precomputed [[dedupSignatures]] frames —
    * byte-identical statuses, zero text access. At 100 TB the corpus side
    * is a persisted sidecar read, not a corpus scan.
    */
  def incrementalDedupSigs(corpusSigs: DataFrame, batchSigs: DataFrame,
      minMatch: Int = Dedup.K / 2): DataFrame =
    Dedup.incrementalDedupSigs(corpusSigs, batchSigs, minMatch)

  /** Within-set MinHash near-dup pairs from precomputed
    * [[dedupSignatures]] (x74 strict leg): the pair stream `Cli admit
    * --strict` feeds to connected components to catch near-dups arriving
    * TOGETHER in one batch — batch-sized work, zero corpus access.
    */
  def minhashPairsSigs(sigs: DataFrame, minMatch: Int = Dedup.K / 2): DataFrame =
    Dedup.minhashPairsSigs(sigs, minMatch)

  /** Sidecar compaction (x74 lifecycle, `Cli admit --compact`): keep one
    * [[dedupSignatures]] row per doc_id still in the live corpus — stale
    * state left by a re-filter POISONS admission (deleted content's
    * re-submission rejects as a dup), retried appends double rows. One
    * left_semi join on the 8-byte id + one keep-one-per-id shuffle; the
    * corpus contributes id projection only, never text.
    */
  def compactSignatures(sigs: DataFrame, live: DataFrame): DataFrame =
    Dedup.compactSignatures(sigs, live)

  /** The EMBEDDING leg of admission (x74_admit_emb, `Cli admit
    * --emb/--bemb`): flag batch vectors with a cosine >= tau corpus
    * neighbor within their frozen coarse cell — the quantizer trains on
    * the corpus, the batch assigns to broadcast centroids, candidates are
    * O(batch x mean cell). Catches rewordings whose embeddings still
    * coincide with corpus content — the dup mode the text leg cannot see.
    */
  def admitEmbedding(corpusEmb: DataFrame, batchEmb: DataFrame,
      tau: Double = Similarity.SEMDEDUP_TAU, nc: Int = 0,
      trainSample: Double = 1.0,
      checkpointDir: Option[String] = None): DataFrame =
    Similarity.admitEmbedding(corpusEmb, batchEmb, tau, nc, trainSample, checkpointDir)

  /** Persist the FROZEN emb-admission state (cell engine auto-chosen by
    * corpus size: flat coarse cells to 1e5 vectors, IMI product cells
    * past — the bootstrap that survives corpus-proportional cell counts);
    * [[admitEmbeddingSigs]] then classifies every batch with zero
    * corpus-embedding access. The emb twin of [[dedupSignatures]].
    */
  def admitEmbeddingBootstrap(corpusEmb: DataFrame, dir: String,
      trainSample: Double = 1.0, checkpointDir: Option[String] = None): Unit =
    Similarity.admitEmbeddingBootstrapAuto(corpusEmb, dir, trainSample, checkpointDir)

  /** [[admitEmbedding]] against the persisted state — flavor detected
    * from the layout; returns state-shaped rows so callers can append the
    * finally-admitted vectors to `dir/assign` (append-only; codebooks
    * frozen — retrain = re-bootstrap).
    */
  def admitEmbeddingSigs(spark: org.apache.spark.sql.SparkSession, dir: String,
      batchEmb: DataFrame, tau: Double = Similarity.SEMDEDUP_TAU,
      checkpointDir: Option[String] = None): DataFrame =
    Similarity.admitEmbeddingSigs(spark, dir, batchEmb, tau, checkpointDir)

  /** Quality-signal calibration (x93): cross-tab of the Gopher verdict
    * against the LM-score band (corpus-mean threshold, no global sort) —
    * docs, token mass and mean score per cell; the audit that decides
    * whether the cheap rules or the LM filter is redundant.
    */
  def qualityCalibration(docs: DataFrame,
      checkpointDir: Option[String] = None): DataFrame =
    TextAnalysis.qualityCalibration(docs, checkpointDir)

  /** PII detection + scrubbing (x72): emails/IPv4/phones counted on the
    * input and replaced with typed placeholders in fixed order — the
    * redaction pass a corpus release runs last. Adds (n_email, n_ip,
    * n_phone, text_clean) per doc; zero shuffle.
    */
  def piiScrub(docs: DataFrame): DataFrame = TextAnalysis.piiScrub(docs)

  /** Train→eval window-level leakage audit (x73): per non-train split,
    * sliding k-token windows also present in train (total + distinct) and
    * the e6 occurrence leak rate — the measurement behind decontamination
    * decisions.
    */
  def splitLeakage(docs: DataFrame, split: Column,
      k: Int = DataPrep.SubstrK): DataFrame =
    DataPrep.splitLeakage(docs, split, k)

  /** Split repair (x86) — the remediation for [[splitLeakage]]'s audit:
    * quarantine every non-train doc carrying a k-token window present
    * verbatim in train (train untouched, so one pass suffices), and
    * re-run the audit on the kept docs — leak_after is recomputed, not
    * assumed zero.
    */
  def splitRepair(docs: DataFrame, split: Column,
      k: Int = DataPrep.SubstrK): DataFrame =
    DataPrep.splitRepair(docs, split, k)

  /** Decontamination-method agreement (x89): non-train docs flagged by
    * exact-doc / 5-gram-shingle / k-token-window checks against train;
    * per method pair, flagged counts, intersection, union and Jaccard —
    * the audit that decides which leakage check a pipeline can drop.
    */
  def decontamAgreement(docs: DataFrame, split: Column,
      k: Int = DataPrep.SubstrK): DataFrame =
    DataPrep.decontamAgreement(docs, split, k)

  /** Filter ablation (x90): per cleaning stage (Gopher quality,
    * keep-first window dedup, eval-leak decontamination) over the train
    * corpus — docs flagged, docs flagged by that stage ALONE, token mass,
    * flag rate. A stage with n_only ~ 0 is subsumed and can be dropped.
    */
  def filterAblation(docs: DataFrame, split: Column,
      k: Int = DataPrep.SubstrK): DataFrame =
    DataPrep.filterAblation(docs, split, k)

  /** DSIR importance RESAMPLING (x61) — the paper's soft selection:
    * Bernoulli draw per raw doc with inclusion probability ∝ score,
    * `target` expected keeps, deterministic (hash-drawn, reproducible).
    */
  def dsirResample(docs: DataFrame, isTarget: Column,
      target: Long = DataPrep.DsirTopK.toLong,
      buckets: Int = DataPrep.DsirBuckets,
      checkpointDir: Option[String] = None): DataFrame =
    DataPrep.dsirResample(docs, isTarget, target, buckets, checkpointDir)

  /** x51's scale path: DSIR selection by sampled score threshold instead
    * of the exact global top-k — no global window anywhere.
    */
  def dsirSelectThreshold(docs: DataFrame, isTarget: Column,
      keepFrac: Double = 0.2, buckets: Int = DataPrep.DsirBuckets,
      sampleFraction: Double = 0.5,
      checkpointDir: Option[String] = None): DataFrame =
    DataPrep.dsirSelectThreshold(docs, isTarget, keepFrac, buckets, sampleFraction, checkpointDir)

  /** Bitext-mining margin scores (Artetxe & Schwenk 2019): best
    * target-language neighbor per query doc plus the top-2 cosine margin
    * that demotes hub vectors (x55).
    */
  def bitextMargin(emb: DataFrame, docs: DataFrame, targetLang: String = "en",
      isQuery: Column = org.apache.spark.sql.functions.lit(true)): DataFrame =
    Similarity.bitextMargin(emb, docs, targetLang, isQuery)

  /** C4-style line-level boilerplate audit (x96): lines repeated across
    * `minDf`+ distinct docs, and how much of each source they are. The
    * document-frequency count is the one shuffle; the threshold-filtered
    * boilerplate set broadcasts into the flagging join.
    */
  def boilerplateAudit(docs: DataFrame, minDf: Int = DataPrep.BoilerMinDf): DataFrame =
    DataPrep.boilerplateAudit(docs, minDf)

  /** x96 remediation: the corpus with boilerplate lines removed, each
    * doc's surviving lines rejoined in original order. Idempotent —
    * surviving lines keep their document frequency, so a second pass is a
    * no-op (spec-pinned).
    */
  def stripBoilerplate(docs: DataFrame, minDf: Int = DataPrep.BoilerMinDf): DataFrame =
    DataPrep.stripBoilerplate(docs, minDf)

  /** Split-composition drift audit (x97): per (split, source) cell —
    * including zero-doc cells — the source's share of the split vs the
    * corpus, in signed ppm. One keyed rollup plus broadcast totals; output
    * is |splits|·|sources| rows.
    */
  def splitDrift(docs: DataFrame): DataFrame = DataPrep.splitDrift(docs)

  /** Embedding-space hubness audit (x98, Radovanović et al. 2010): the
    * in-degree distribution (including antihubs at zero) of any
    * (query_id, rank, neighbor_id) k-NN graph — exact [[knnBrute]] at
    * audit scale, the x07/x13/x59 ANN graphs at corpus scale, since
    * hubness is a property of the graph retrieval actually uses.
    */
  def hubness(knn: DataFrame, emb: DataFrame): DataFrame =
    Similarity.hubnessFromKnn(knn, emb)

  /** Stage-attributed dedup cascade (x99): exact dedup, then simhash
    * near-dup on the exact survivors, with per-source removals attributed
    * per stage — the waterfall report a pipeline owner reads to know which
    * stage did the work. Cheap stage first so the expensive stage sees a
    * smaller corpus.
    */
  def dedupCascade(docs: DataFrame): DataFrame = Dedup.dedupCascade(docs)

  /** Quality-filter sensitivity sweep (x100): docs/token mass kept per
    * source at every threshold of a fixed score grid, computed as ONE
    * banded corpus aggregation plus a running sum over the zero-completed
    * (source, band) grid — never a scan per threshold.
    */
  def filterSweep(docs: DataFrame): DataFrame = TextAnalysis.filterSweep(docs)

  /** Curriculum phase assignment (x101): corpus ranked easy-first by the
    * x09 quality proxy and cut into equal phases; per (phase, source) the
    * doc/token mass and mean quality each training phase sees. The
    * registered query is the oracle-exact global NTILE;
    * [[curriculumByThresholds]] is the 100 TB path.
    */
  def curriculumPhases(docs: DataFrame, phases: Int = TextAnalysis.CurriculumPhases): DataFrame =
    TextAnalysis.curriculumPhases(docs, phases)

  /** x101's scale path: phase boundaries from sampled quantiles
    * (driver-side, (phases-1) doubles), assignment as a per-row
    * comparison — no global window; phase sizes approximately equal.
    */
  def curriculumByThresholds(docs: DataFrame,
      phases: Int = TextAnalysis.CurriculumPhases,
      sampleFraction: Double = 0.1): DataFrame =
    TextAnalysis.curriculumByThresholds(docs, phases, sampleFraction)

  /** OOV-rate audit (x102): vocabulary from the x19 train split (words in
    * ≥ minDf distinct train docs), out-of-vocabulary token rate of
    * val/test per source — the pre-tokenizer-freeze coverage check and
    * eval-drift alarm.
    */
  def oovRate(docs: DataFrame): DataFrame = DataPrep.oovRate(docs)

  /** Winnowing document fingerprints (x103, Schleimer et al. SIGMOD'03):
    * sliding-window minimum over positional k-gram hashes with
    * rightmost-tie selection; guarantees any shared run of w+k-1 words is
    * caught while sampling ~2/(w+1) of positions. Per doc: gram count,
    * fingerprint count, fingerprints shared with other docs, density.
    */
  def winnowFingerprints(docs: DataFrame,
      k: Int = TextAnalysis.WinnowK,
      w: Int = TextAnalysis.WinnowW): DataFrame =
    TextAnalysis.winnowFingerprints(docs, k, w)

  /** Per-source doc-length quantiles (x104): exact rank-rule percentiles
    * (p25/p50/p90/p99/max tokens) — the datasheet numbers pack budgets
    * and chunk sizes key off. The registered query is the oracle-exact
    * window pin; [[lengthQuantilesApprox]] is the 100 TB path.
    */
  def lengthQuantiles(docs: DataFrame): DataFrame =
    TextAnalysis.lengthQuantiles(docs)

  /** x104's scale path: per-source Greenwald–Khanna approximate
    * percentiles — one map-side-combinable aggregation, no window.
    */
  def lengthQuantilesApprox(docs: DataFrame, accuracy: Int = 10000): DataFrame =
    TextAnalysis.lengthQuantilesApprox(docs, accuracy)

  /** Cross-source near-dup matrix (x105): x47's "who copies whom" audit
    * on the simhash near-dup graph — per source pair, the near-dup pairs
    * spanning them; catches re-hosting AND light-edit syndication exact
    * matching misses.
    */
  def crossSourceNearDup(docs: DataFrame): DataFrame =
    Dedup.crossSourceNearDup(docs)

  /** Embedding norm audit (x106): the pre-index QA gate — per source,
    * zero-norm and constant-dim vector counts plus the norm distribution
    * envelope in e6 fixed point. Run it before any ANN/cosine op; a zero
    * vector NaN-poisons every cosine it joins.
    */
  def embNormAudit(emb: DataFrame, docs: DataFrame): DataFrame =
    Similarity.embNormAudit(emb, docs)

  /** Label-noise audit via k-NN label agreement (x110, Northcutt et al.
    * 2021): per label, the neighbor-vote agreement of any
    * (query_id, rank, neighbor_id) graph — the x07 LSH graph in the
    * registered query, [[knnBrute]] as the exactness baseline — with
    * strict-majority-disagree suspects and isolated vectors reported.
    * Integer arithmetic end to end; edge list k·n, keyed joins only.
    */
  def knnLabelAgreement(knn: DataFrame, emb: DataFrame): DataFrame =
    Similarity.knnLabelAgreement(knn, emb)

  /** Phase-pure pack build (x107): the curriculum (x101) composed with
    * the x21 packer — packs built within each phase so a trainer streams
    * phase 1 before phase 2 loads, with per-phase fill-ratio audit. The
    * registered query pins the NTILE phase; [[phasePackingByThresholds]]
    * is the 100 TB path.
    */
  def phasePacking(docs: DataFrame): DataFrame = DataPrep.phasePacking(docs)

  /** x107's scale path: sampled-quantile phases, (phase, shard)-keyed
    * packing cumsum — no global window.
    */
  def phasePackingByThresholds(docs: DataFrame, sampleFraction: Double = 0.1): DataFrame =
    DataPrep.phasePackingByThresholds(docs, sampleFraction = sampleFraction)

  /** Per-source lexical profile (x109): tokens, types, type-token ratio
    * and hapax share — the lexical-diversity block of a corpus datasheet.
    * One exploded-token keyed count + a vocab-sized rollup.
    */
  def lexicalProfile(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.lexicalProfile(docs)

  /** N-gram coverage of held-out splits by train (x108): per
    * (split, source), the fraction of distinct word k-grams also seen in
    * train — the generalization-shift proxy (low = domain gap; verbatim
    * leakage at k=8+ is [[splitLeakage]]'s job). Hash-keyed membership
    * join against the distinct train-gram set.
    */
  def ngramCoverage(docs: DataFrame, k: Int = DataPrep.CovK): DataFrame =
    DataPrep.ngramCoverage(docs, k)

  /** Per-source charset & char-diversity audit (x111): docs with
    * non-ASCII / control / U+FFFD chars (mis-decode and binary-
    * contamination signals), non-ASCII codepoint mass, and the per-doc
    * character collision probability (Rényi-2 repetition proxy) as
    * exact e6 integers. One native CharProfile codegen pass per row +
    * a per-source rollup — no explode, no window, no joins.
    */
  def charsetAudit(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.charsetAudit(docs)

  /** Shuffle-key skew profiler (x112): per event_type, row/key counts,
    * the heaviest key's mass, skew_e6 = 1e6·max/mean (the straggler
    * multiplier of a naive hash partition) and the >2×-mean hot-key set
    * with its row mass — the measured input to a salting decision. Two
    * keyed aggregations (the corpus-sized one IS the shuffle being
    * audited) + a |types|-row broadcast-back; no window, no sort.
    */
  def keySkew(events: DataFrame): DataFrame =
    xscale.DataPrep.keySkew(events)

  /** ANN recall@k audit (x113): per label, |approx ∩ exact| / |exact|
    * of any two (query_id, rank, neighbor_id) graphs over the same
    * query sample — the registered query scores the x07 LSH graph
    * against [[knnBrute]] ground truth on a deterministic ~5% sample
    * (`vec_id % ` [[xscale.Similarity.RecallMod]]). Ground truth is the
    * one sample-bounded all-pairs leg; the intersection is a keyed LEFT
    * join; recall_e6 is exact integer division. Re-run per index
    * rebuild.
    */
  def annRecall(approx: DataFrame, exact: DataFrame, emb: DataFrame): DataFrame =
    Similarity.annRecall(approx, exact, emb)

  /** Length↔quality correlation per source (x114): exact Spearman
    * (deterministic doc_id tiebreak, all-integer fixed point) plus the
    * Pearson sufficient statistics — the one-pass 100 TB form. Flags a
    * quality score degenerating into a length proxy.
    */
  def lenQualityCorr(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.lenQualityCorr(docs)

  /** Per-source distributional divergence (x115): exact total-variation
    * distance between each source's unigram distribution and the rest of
    * the corpus — the mixture-design number (TV≈0 adds volume, not
    * diversity; TV≈1 is a domain outlier). One tokenize+hash scan,
    * checkpoint-pinned counts, closed-form handling of absent terms.
    */
  def sourceDivergence(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.sourceDivergence(docs)

  /** Collocation mining (x116): top bigrams by exact association lift
    * (PMI-monotone, all-integer), support-filtered — the phrase
    * vocabulary: tokenizer merge candidates, multi-word entities,
    * boilerplate stubs. Count frames are vocab-bounded; the top-k window
    * runs over bigram types, never the corpus.
    */
  def collocations(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.collocations(docs)

  /** Positional-template audit (x117): per (source, leading position),
    * the modal token and its share — the slot-template signature
    * (machine-generated text) that bag-of-words signals cannot see.
    */
  def templateSlots(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.templateSlots(docs)

  /** Per-dimension embedding statistics (x118): exact integer moments,
    * zero counts and dead-dimension flags per dim — the anisotropy /
    * rogue-dimension audit to re-run with [[annRecall]] on every
    * re-embed. One posexplode scan + keyed aggregate, |dims| rows out.
    */
  def dimStats(emb: DataFrame): DataFrame =
    Similarity.dimStats(emb)

  /** Term burstiness (x119): per term cf/df and burst_e6 = mean
    * occurrences per containing doc (Church & Gale 1995) — x31's
    * repetition signal lifted to the vocabulary, naming which token
    * repeats corpus-wide. Vocab-bounded counts; rank window over types.
    */
  def termBurstiness(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.termBurstiness(docs)

  /** Markup-residue audit (x120): per source, docs with HTML tags /
    * entities / bare URLs plus match mass — extractor health; residual
    * markup defeats text-level dedup. Three codegen regex counts per
    * row, zero shuffle, one |sources|-row rollup.
    */
  def markupResidue(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.markupResidue(docs)

  /** MinHash-LSH fidelity audit (x121): the per-n_match precision
    * S-curve of x02's banded candidates against exact Jaccard truth,
    * plus a recall summary row (n_match = -1) — the audit that
    * justifies the sketch; re-run when band structure or shingle size
    * changes. At open-web scale pass `sampleMod > 1`: both legs run on
    * the doc_id ≡ 0 (mod m) sample, so the quadratic truth leg shrinks
    * ~m² and the estimate's cost is corpus-size-independent (the x113
    * thinning rule — raise the mod as the corpus grows).
    */
  def lshFidelity(docs: DataFrame, sampleMod: Long = 1L): DataFrame =
    xscale.Dedup.lshFidelity(docs, sampleMod)

  /** Cluster-diameter audit (x122): per dedup-cluster size, how many
    * clusters are transitive CHAINS (some within-cluster pair beyond
    * the pair threshold) vs true duplicate piles, with edge density and
    * worst within-cluster hamming. High chaining ⇒ tighten the pair
    * threshold or star-verify clusters against their survivor. At
    * open-web scale pass `maxClusterSize`: mega-clusters are sampled
    * down to the cap before the within-cluster self-join (pair cost
    * ≤ cap²/2 per cluster) and flagged in `n_capped` — the audit stays
    * an honest estimate with its exactness loss visible.
    */
  def clusterDiameter(
      docs: DataFrame,
      maxClusterSize: Long = xscale.Dedup.NoCap): DataFrame =
    xscale.Dedup.clusterDiameter(docs, maxClusterSize)

  /** Output-shard balance audit (x123): docs / token mass / deviation
    * from perfect balance per hash shard — the write-side companion of
    * [[keySkew]]; max dev_e6 is the straggler multiplier of any
    * shard-parallel consumer.
    */
  def shardBalance(docs: DataFrame): DataFrame =
    xscale.DataPrep.shardBalance(docs)

  /** Embedding anisotropy audit (x124): per label and overall,
    * anis_e6 = (1e6·‖Σv‖²) div (n·Σ‖v‖²) — ≈1e6/n when isotropic, →1e6
    * when vectors collapse to a cone (cosine loses contrast; ANN recall
    * and semantic dedup degrade). Exact integer arithmetic on
    * e6-quantized elements; the (label, dim) partial sums are a
    * mergeable sketch, so shards aggregate hierarchically at 100 TB.
    */
  def anisotropy(emb: DataFrame): DataFrame =
    Similarity.anisotropy(emb)

  /** Intra-doc chunk divergence (x125): per source, pairwise simhash
    * hamming between a doc's own chunks — the concat-seam / topic-mix
    * signal bag-of-words metrics can't see, and the QA gate for the RAG
    * index's chunk≈doc-topic assumption. Pair join keyed on doc_id, so
    * cost is C(chunks,2) per doc, never corpus-quadratic.
    */
  def chunkDivergence(docs: DataFrame): DataFrame =
    xscale.DataPrep.chunkDivergence(docs)

  /** Dedup length bias (x126): per source under the keep-first rule,
    * kept/dropped counts, token masses, exact mean lengths and
    * bias_e6 = (1e6·dropped-mean) div kept-mean — how much the dedup
    * step itself shifts the length mixture the packing plan was tuned
    * on. Rides the dedup's own shuffle; |sources| rows out.
    */
  def dedupLengthBias(docs: DataFrame): DataFrame =
    xscale.Dedup.dedupLengthBias(docs)

  /** Pipeline-stage overlap (x127): dedup vs quality filter evaluated
    * independently — four-cell accounting per source plus subsume_e6,
    * the measured input to the which-stage-runs-first cost decision
    * (x90 prices filter-vs-filter; this prices dedup-vs-filter).
    */
  def stageOverlap(docs: DataFrame, thrE4: Long = xscale.Dedup.StageThrE4): DataFrame =
    xscale.Dedup.stageOverlap(docs, thrE4)

  /** Dedup signal agreement (x128): pair-set overlap between the simhash
    * text signal and the embedding-cosine signal over embedded docs —
    * the measured marginal value of x50's second signal, and the
    * regression tripwire for encoder swaps. One summary row.
    */
  def signalAgreement(docs: DataFrame, emb: DataFrame): DataFrame =
    xscale.Dedup.signalAgreement(docs, emb)

  /** Simhash threshold sweep (x129): the dedup-knob sensitivity curve —
    * cumulative pairs and touched docs per hamming threshold 0..8, from
    * ONE pigeonhole candidate pass. The measured input to the x04/x14
    * threshold choice; x122 shows the chains the chosen point produces.
    */
  def simhashThresholdSweep(docs: DataFrame): DataFrame =
    xscale.Dedup.simhashThresholdSweep(docs)

  /** Token-length profile (x130): per source, raw whitespace-token
    * character geometry (char mass, mean/max length, long-token and
    * digit-only shares) — predicts BPE fertility (x78) and real token-
    * budget cost (x81) from text alone. One scan, no explode.
    */
  def tokenLengthProfile(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.tokenLengthProfile(docs)

  /** Pairwise source-divergence matrix (x131): exact TV distance between
    * every source pair's unigram distribution — x115's arithmetic on the
    * |S|²/2 grid, the clustering input for source-group mixture design.
    * Disjoint vocabularies score exactly 1e6 via the closed-form
    * absent-mass fold; the count frame self-joins on the term key.
    */
  def sourceTvMatrix(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.sourceTvMatrix(docs)

  /** Token-distribution diversity (x132): per-source Rényi-2 collision
    * probability and effective vocabulary (participation ratio) in exact
    * integers — the distribution-weighted complement of x109's TTR, and
    * the number that predicts a source's real diversity contribution to
    * the mixture.
    */
  def tokenDiversity(docs: DataFrame): DataFrame =
    xscale.TextAnalysis.tokenDiversity(docs)

  /** Near-dup split leakage (x133): eval docs with a TRAIN near-dup
    * under the x19 split — the fuzzy decontamination leg that catches
    * paraphrased re-posts the exact legs (x73/x75/x64) miss, riding the
    * same simhash candidate pass the dedup already runs. Remediate with
    * [[splitRepair]].
    */
  def neardupLeakage(docs: DataFrame): DataFrame =
    xscale.DataPrep.neardupLeakage(docs)

  /** Corpus shuffle audit (x134): per-shard same-source adjacency in
    * on-disk order vs the mixture's perfect-shuffle baseline Σp² —
    * order as a signal; clumped writes feed the trainer correlated
    * batches and only this audit can see it. x82's interleaving is the
    * fix. `shardN` must track the shipped layout's file count (thousands
    * at 100 TB) so each window partition stays one file's sequential
    * scan; the default is the fixture/oracle pin.
    */
  def shuffleAudit(docs: DataFrame, shardN: Long = xscale.DataPrep.ShardN): DataFrame =
    xscale.DataPrep.shuffleAudit(docs, shardN)

  /** Label-separation audit (x135): one-way ANOVA of the embedding
    * space in exact integers — η² (share of variance the labels explain)
    * and the Fisher ratio. η² → 0 says the labels are unlearnable from
    * this space before any retrieval eval or classifier runs; a shift
    * after an encoder swap is the class-structure regression recall
    * alone can't attribute.
    */
  def labelSeparation(emb: DataFrame): DataFrame =
    Similarity.labelSeparation(emb)

  /** LSH bucket-health audit (x136): per hyperplane table, occupancy
    * geometry + within-bucket pair mass — the probe-cost calibration of
    * the ANN hash (x28 calibrates the MinHash sketch). Hot buckets under
    * an anisotropic encoder (x124) are the failure this catches.
    */
  def lshBucketHealth(emb: DataFrame): DataFrame =
    Similarity.lshBucketHealth(emb)

  /** Centered-LSH bucket health (x137): x136's recommended remediation,
    * measured — every hyperplane test centered on the corpus mean
    * ("all-but-the-top" step 1) in exact integer arithmetic, same
    * columns as x136 for a direct before/after. Adopt centering (switch
    * the index to [[knnLshCentered]]) when max_share/sum_pairs improve
    * with ANN recall (x113) held.
    */
  def lshBucketHealthCentered(emb: DataFrame): DataFrame =
    Similarity.lshBucketHealthCentered(emb)

  /** Centered-LSH top-k (x137's production index): knnLsh with
    * mean-centered bucket bits — hot anisotropic buckets disperse, probe
    * cost drops, and the cosine rerank is unchanged (it always scored
    * the raw vectors).
    */
  def knnLshCentered(emb: DataFrame, isQuery: Column, k: Int = 3): DataFrame =
    Similarity.knnLshCentered(emb, isQuery, k)

  /** IMI product-cell quantization (x138): two half-space codebooks give
    * nc² cells at 2·nc assignment evals per vector — the remediation for
    * the flat coarse quantizer's O(n·nc) assignment at corpus-
    * proportional cell counts. [[Similarity.imiAssign]] returns the
    * per-vector cells; this returns the cell-health audit (x136's
    * currency) plus the flat-vs-IMI assignment-cost arithmetic. Size the
    * per-half codebooks with [[Similarity.imiAutoNc]] at scale.
    */
  def imiCells(
      emb: DataFrame,
      nc: Int = Similarity.NC,
      trainSample: Double = 1.0,
      checkpointDir: Option[String] = None): DataFrame =
    Similarity.imiCells(emb, nc, trainSample, checkpointDir)
}
