package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Reproducible N× scale smoke for the xscale operators (SURVEY §8.1).
  *
  * Builds an id-shifted union of N copies of the sf0.1 `documents` /
  * `embeddings` tables — every doc becomes an N-duplicate cluster, the
  * WORST case for dedup output size — and times a battery of the
  * dedup/ANN/data-prep queries on it. Usage:
  *
  *   runMain graft.ScaleSmoke [factor] [query ...]
  *
  * Timings print as `[smoke] name seconds rows`. The copy corpus is cached
  * under /tmp and rebuilt only when absent (delete to regenerate).
  */
object ScaleSmoke {
  private val DefaultQueries = Seq(
    "x01_dedup_exact", "x02_dedup_minhash", "x04_dedup_simhash",
    "x14_dedup_clusters", "x07_knn_lsh", "x21_pack_sequences",
    "x23_contam_ngram", "x25_containment", "x27_corpus_build",
    "x30_semdedup", "x30_semdedup_auto", "x31_repetition", "x33_lm_score",
    "x34_substring_coverage", "x50_joint_auto", "x50_joint_imi", "x51_dsir_select",
    "x51_dsir_threshold", "x52_cluster_auto", "x53_vocab_growth",
    "x54_proto_auto", "x57_pipeline_full", "x57_pipeline_threshold",
    "x57_pipeline_approx",
    "x62_bpe_train",
    "x64_decontam_spans", "x74_incremental_dedup", "x75_bloom_decontam",
    "x77_cms_heavy_hitters", "x79_ivfpq_add",
    "x86_split_repair", "x87_dedup_survivorship",
    "x89_decontam_agreement", "x90_filter_ablation",
    "x91_rag_index", "x91_rag_auto", "x92_rag_auto",
    "x94_survivor_regret", "x95_keepbest_gain",
    "x96_boilerplate", "x97_split_drift", "x98_hubness_ann_auto",
    "x99_dedup_cascade", "x100_filter_sweep", "x101_curriculum_auto",
    "x102_oov_rate", "x103_winnow", "x104_quantiles_auto",
    "x105_cross_neardup", "x106_norm_audit", "x107_phase_packing_auto",
    "x108_ngram_coverage", "x109_lexical_profile", "x110_label_noise_auto",
    "x111_charset_audit", "x112_key_skew", "x113_ann_recall_auto",
    "x114_len_quality_corr", "x115_source_divergence", "x116_collocations",
    "x117_template_slots", "x118_dim_stats", "x119_burstiness",
    "x120_markup_residue", "x121_lsh_fidelity_auto", "x122_cluster_diameter_auto",
    "x14_powerlaw", "x14_powerlaw_wide", "x14_powerlaw_minhash",
    "x50_joint_imi_powerlaw", "x50_joint_imi_powerlaw_minhash",
    "x99_cascade_powerlaw_auto",
    "x74_admit_powerlaw", "x74_admit_sigs_powerlaw",
    "x74_admit_emb_powerlaw", "x74_admit_esigs_powerlaw",
    "x74_emb_strict_powerlaw", "x74_esigs_compact_powerlaw",
    "x121_lsh_fidelity_powerlaw", "x122_cluster_diameter_powerlaw",
    "x122_cluster_diameter_powerlaw_wide",
    "x123_shard_balance", "x124_anisotropy", "x125_chunk_divergence",
    "x126_dedup_length_bias", "x127_stage_overlap", "x128_signal_agreement",
    "x129_threshold_sweep", "x130_token_profile", "x131_source_tv_matrix",
    "x132_token_diversity", "x133_neardup_leakage", "x134_shuffle_audit",
    "x135_label_separation", "x136_lsh_buckets", "x137_lsh_centered",
    "x88_bm25_zipf", "x138_imi_auto",
    "x139_image_dhash", "x139_image_dhash_wide", "x139_image_auto",
    "x140_audio_dhash",
    "x141_crossmodal_dedup", "x141_crossmodal_aud",
    "x74_admit_img", "x74_admit_aud", "x74_admit_img_steady",
    "x74_admit_media_steady", "x74_admit_vtrim_steady", "x74_admit_icrop_steady",
    "x74_admit_atrim_steady", "x74_admit_vcrop_steady",
    "x74_psigs_compact", "corpus_pdedup_stage", "corpus_mquality_stage",
    "corpus_pcontain_stage", "corpus_full_multimodal",
    "x147_containment_lsh", "x152_crop_lsh", "x153_utt_lsh",
    "x154_vcrop_lsh", "x155_thumb_lsh", "x156_rcrop_lsh",
    "x142_image_keepbest", "x143_audio_quality", "x144_image_exposure",
    "cc_uniform", "cc_megastar", "cc_megastar_salted")
  // NEITHER x88 form runs on the DRIVER-FIXTURE corpus in the default
  // battery: that fixture's vocabulary is 31 words in a ~74.6-80.4% df
  // band, so exact BM25 candidates are ~|q| x n BY CONSTRUCTION (738 s
  // at 10x, measured) — and any cap that keeps a NON-TRIVIAL ranking
  // there (TextAnalysis.BmMaxDfPpm = 76.6%, inside the band) necessarily
  // keeps ~76%-df posting lists, still ~|q| x n at 10x (513 s, measured);
  // a below-band cap empties every posting (0 rows, 3.8 s). Since r10 the
  // battery DOES run BM25 — as x88_bm25_zipf over the Zipfian corpus
  // (Synthetic.zipfDocs, generated beside the copies below), the
  // vocabulary shape where the df-cap's value is real: 7.9 s at 1x,
  // 14.2 s at 10x, 21.7 s at 100x, sub-linear with the thinned query
  // sample. Run x88_bm25_zipf_exact (uncapped twin, same queries) or the
  // flat-fixture forms explicitly to reproduce the older numbers.

  /** x88 df-cap for the Zipfian fixture: 10% of docs. On Zipf s = 1 with
    * a 10k vocabulary and ~130-token docs this prunes roughly the 130
    * highest-df head words — most of the posting mass — while the tail
    * (the terms that actually discriminate) survives.
    */
  val ZipfDfCapPpm = 100000L

  /** x88 zipf query thinning (the x113 rule: eval value saturates, so the
    * sample mod grows with the corpus). Forced odd so it stays coprime
    * with the 4-way source id — an even mod would silently drop half the
    * sources from the eval.
    */
  def zipfQMod(factor: Int): Int = {
    val m = xscale.TextAnalysis.BmQMod * factor
    if (m % 2 == 0) m + 1 else m
  }

  /** The daily-ingest batch for the admission smoke: FIXED 250 docs at any
    * factor (100 exact re-arrivals, 100 near variants, 50 fresh) — the
    * day-2 shape, where the batch is constant and only the corpus grows.
    */
  private def admitBatch(docs: org.apache.spark.sql.DataFrame) = {
    val exact = docs.filter(col("doc_id") < 100)
      .select((col("doc_id") + 9000000000L).as("doc_id"), col("text"))
    val near = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select((col("doc_id") + 9100000000L).as("doc_id"),
        concat(col("text"), lit(" zq")).as("text"))
    val fresh = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 9200000000L).as("doc_id"),
        concat(lit("entirely fresh admission smoke entry numbered "),
          col("doc_id"), lit(" with no shared shingles beyond this sentence"))
          .as("text"))
    exact.unionByName(near).unionByName(fresh)
  }

  /** Fixed 250-vector batch for the emb-admission smoke: 200 exact copies
    * of corpus vectors (guaranteed within-cell flags) + 50 negations
    * (novel directions in the near-isotropic fixture).
    */
  private def admitEmbBatch(emb: org.apache.spark.sql.DataFrame) = {
    val copies = emb.filter(col("vec_id") < 200)
      .withColumn("vec_id", col("vec_id") + 9000000000L)
    val novel = emb.filter(col("vec_id") >= 200 && col("vec_id") < 250)
      .select((col("vec_id") + 9100000000L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"), col("label"))
    copies.unionByName(novel)
  }

  /** The heavy legs' posture: every cut `body` makes is a reliable
    * checkpoint under `<dir>/_checkpoints` (storage-backed, so its blocks
    * never pin the local-mode heap) instead of a lazy local one.
    */
  private def reliable[T](s: SparkSession, dir: String)(body: => T): T =
    Sessions.withCheckpointDir(s, s"$dir/_checkpoints")(body)

  /** 1M-leaf star + 100k disjoint 2-cliques: the clone-heavy dedup graph. */
  private def ccMegastar(s: SparkSession) =
    s.range(1, 1000001L).select(org.apache.spark.sql.functions.lit(0L).as("a"), col("id").as("b"))
      .union(s.range(0, 100000L)
        .select((col("id") * 2 + 2000000L).as("a"), (col("id") * 2 + 2000001L).as("b")))

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    // The smoke batches/fresh-content populations live at FIXED id bases
    // (batch doc_ids at 9e9+, x74_admit_img_steady's fresh image clusters
    // at 2e9 — reached through a ×5 img_id indirection, so their CONTENT
    // keys sit at ~1.4e10) above the copy corpus, whose ids reach
    // (factor-1)·1e7 + maxSrcId. Past factor ≈ 900 the corpus ids cross
    // the 9e9 batch base and the flatness measurements would silently
    // compare batch docs against colliding corpus ids/content — refuse
    // loudly instead (the measured battery runs at 1/10/100×; anything
    // past 500× needs the bases re-derived from the corpus max id first).
    require(factor <= 500,
      s"factor=$factor: copy-corpus ids would collide with the smoke's fixed " +
        "batch/fresh-content id bases (9e9 / 2e9-clusters) — re-derive the bases " +
        "from the corpus max doc_id before scaling past 500x")
    val queries = if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val src = "/root/testdata/sf0.1"
    val dir = s"/tmp/graft_scale${factor}x"
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      // id shift must clear the source id range so copies never collide
      val shift = 10000000L
      val docs = spark.read.parquet(s"$src/documents.parquet")
      (0 until factor).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * shift)))
        .reduce(_ union _)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      (0 until factor).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * shift)))
        .reduce(_ union _)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    }
    // events copies get DISJOINT key spaces (user_id shifted too): per-key
    // counts are preserved, keys and rows both xN — the skew RATIO x112
    // measures is invariant, which is exactly the flat-at-scale claim.
    // Separate existence check so pre-r9 cached corpora upgrade in place.
    if (!new java.io.File(s"$dir/events.parquet").exists()) {
      val shift = 10000000L
      val ev = spark.read.parquet(s"$src/events.parquet")
      (0 until factor).map(i => ev
          .withColumn("event_id", col("event_id") + lit(i * shift))
          .withColumn("user_id", col("user_id") + lit(i * shift)))
        .reduce(_ union _)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    }
    // Zipfian text corpus (the df-dependent fixture, Synthetic.zipfDocs):
    // 5000 docs x factor — the documents table's own scaling — so x88
    // numbers here are directly comparable with the flat-fixture
    // measurements (738 s exact / 513 s capped at 10x, NOTES_r9 §4).
    if (!new java.io.File(s"$dir/zipf_documents.parquet").exists()) {
      source.Synthetic.zipfDocs(spark, 5000L * factor)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/zipf_documents.parquet")
    }
    // Power-law duplicate corpus (Synthetic.powerlawDocs): ~99% unique,
    // ~1% dup mass in power-law-sized clusters — the REALISTIC dedup
    // shape, vs the all-clique worst case the id-shifted copies build.
    // The dedup/ANN heavies' measured 100x numbers come from here; the
    // clique fixture remains the honest worst-case bound.
    if (!new java.io.File(s"$dir/powerlaw_documents.parquet").exists()) {
      source.Synthetic.powerlawDocs(spark, 5000L * factor)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/powerlaw_documents.parquet")
      source.Synthetic.powerlawEmbeddings(spark, 2000L * factor)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/powerlaw_embeddings.parquet")
    }
    // The multimodal corpus-build media sidecar (the composed --scale
    // recipe smoke): the pdedup fixture's cluster-consecutive modality
    // split persisted once, so corpus_full_multimodal times the BUILD,
    // not the fixture synthesis. Width baked at the same mediaWideFor
    // rule the consumer re-derives.
    if (!new java.io.File(s"$dir/mixed_media.parquet").exists()) {
      val sp = spark
      import sp.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val wide = xscale.PerceptualDedup.mediaWideFor(docs.count())
      docs.as[Long]
        .mapPartitions(_.map { id =>
          val m = (id / xscale.PerceptualDedup.ClusterSize) % 3
          (id,
            // ~2% planted DEAD media (silent clip / black image / black
            // video) so the composed run's mquality gate provably drops,
            // not just scans
            if (id % 50 == 0) {
              if (m == 1) xscale.PerceptualDedup.makeWav8(8000, Array.fill(520)(128))
              else if (m == 2) xscale.PerceptualDedup.makeAvi(4, 4, 65, (_, _, _) => 0)
              else xscale.PerceptualDedup.makeBmp(9, 8, (_, _) => 0)
            }
            else if (m == 1) xscale.PerceptualDedup.fixtureWav(id)
            else if (m == 2)
              (if (wide) xscale.PerceptualDedup.fixtureAviWide(id)
               else xscale.PerceptualDedup.fixtureAvi(id))
            else if (wide) xscale.PerceptualDedup.fixtureBmpWide(id)
            else xscale.PerceptualDedup.fixtureBmp(id))
        })
        .toDF("doc_id", "payload")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/mixed_media.parquet")
    }
    // The admission sidecar (`Cli admit --sigs` steady state): the corpus's
    // dedup STATE persisted once — x74_admit_sigs_powerlaw times ONLY the
    // day-2 classify, never the corpus text pass it replaces.
    if (!new java.io.File(s"$dir/powerlaw_sigs.parquet").exists()) {
      xscale.Dedup.dedupSignatures(
          spark.read.parquet(s"$dir/powerlaw_documents.parquet"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/powerlaw_sigs.parquet")
    }
    // The emb-admission state (`Cli admit --esigs` steady state): frozen
    // codebooks + corpus assignment persisted once, cell engine chosen by
    // corpus size (flat coarse cells to 1e5 vectors, IMI product cells
    // past it — the flat auto-nc bootstrap carries full vectors through
    // an n·nc rank shuffle and ABORTED at 200k vectors, the same named
    // cap as x50's flat assignment; IMI is its measured remediation).
    // The smoke times only the day-2 classify.
    if (!new java.io.File(s"$dir/powerlaw_esigs/centroids").exists() &&
      !new java.io.File(s"$dir/powerlaw_esigs/halves").exists()) {
      reliable(spark, dir) {
        xscale.Similarity.admitEmbeddingBootstrapAuto(
          spark.read.parquet(s"$dir/powerlaw_embeddings.parquet"),
          s"$dir/powerlaw_esigs", trainSample = 0.1)
      }
    }
    // The media-admission bands state (`Cli admit --psigs` steady state):
    // the corpus images hashed ONCE — x74_admit_img_steady times only the
    // day-2 classify against it, never the corpus decode it replaces.
    if (!new java.io.File(s"$dir/media_bands.parquet").exists()) {
      xscale.PerceptualDedup.fixtureBands(
          spark, spark.read.parquet(s"$dir/documents.parquet").select("doc_id"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/media_bands.parquet")
    }
    // the audio twin, cached the same way (the steady-state entries must
    // time the CLASSIFY, not the one-off state build). cv_id = -(doc_id+1):
    // negative state ids can never collide with any fixed batch/corpus id
    // base at ANY copy factor
    if (!new java.io.File(s"$dir/audio_bands.parquet").exists()) {
      import spark.implicits._
      spark.read.parquet(s"$dir/documents.parquet").select("doc_id").as[Long]
        .mapPartitions(_.map(i => (-(i + 1L),
          xscale.PerceptualDedup.audioDhashBands(
            xscale.PerceptualDedup.fixtureWav(i * 5)).get)))
        .toDF("cv_id", "bands")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/audio_bands.parquet")
    }
    // the video twin: cv_id = -(doc_id+1) - 6e9 — below the audio
    // negatives for any corpus maxId < 6e9, which the factor<=500 guard
    // already bounds (maxId ~ 5e9 at 500x)
    if (!new java.io.File(s"$dir/video_bands.parquet").exists()) {
      import spark.implicits._
      spark.read.parquet(s"$dir/documents.parquet").select("doc_id").as[Long]
        .mapPartitions(_.map(i => (-(i + 1L) - 6000000000L,
          xscale.PerceptualDedup.videoDhashBands(
            xscale.PerceptualDedup.fixtureAvi(i * 5)).get)))
        .toDF("cv_id", "bands")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/video_bands.parquet")
    }
    // the trim-admission shingle state (`Cli admit --ptrim` steady
    // state): ~64 fingerprint rows per corpus video, hashed ONCE —
    // x74_admit_vtrim_steady times only the day-2 classify. cv_id base
    // -12e9 keeps a third disjoint negative id space
    if (!new java.io.File(s"$dir/video_shingles.parquet").exists()) {
      import spark.implicits._
      val media = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").as[Long]
        .mapPartitions(_.map(i => (i, xscale.PerceptualDedup.fixtureAvi(i * 5))))
        .toDF("doc_id", "payload")
      xscale.PerceptualDedup.videoFrameShingles(media)
        .select((-(col("doc_id") + 1L) - 12000000000L).as("cv_id"),
          col("s1"), col("q1"), col("s2"), col("q2"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/video_shingles.parquet")
    }
    // the crop-admission shingle state (`Cli admit --ptrim`, the img
    // space): 20 mod-tagged tile fingerprints per corpus image, hashed
    // ONCE — x74_admit_icrop_steady times only the day-2 classify.
    // cv_id base -14e9 keeps a fourth disjoint negative id space
    if (!new java.io.File(s"$dir/image_shingles.parquet").exists()) {
      import spark.implicits._
      val t = xscale.PerceptualDedup.TileSize
      val media = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").as[Long]
        .mapPartitions(_.map { i =>
          val levels = Array.tabulate(
            xscale.PerceptualDedup.CropTilesX, xscale.PerceptualDedup.CropTilesY)(
            (x, y) => xscale.PerceptualDedup.fixtureTileLvl(i * 5, x, y))
          (i, xscale.PerceptualDedup.makeBmp(
            xscale.PerceptualDedup.CropTilesX * t, xscale.PerceptualDedup.CropTilesY * t,
            (x, y) => levels(x / t)(y / t)))
        })
        .toDF("doc_id", "payload")
      xscale.PerceptualDedup.mediaShingles(media)
        .select((-(col("doc_id") + 1L) - 14000000000L).as("cv_id"),
          col("mod"), col("s1"), col("q1"), col("s2"), col("q2"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/image_shingles.parquet")
    }
    // the excerpt-admission shingle state (`Cli admit --ptrim`, the aud
    // space): ~21 mod-tagged utterance bigrams per corpus clip, decoded
    // ONCE — x74_admit_atrim_steady times only the day-2 classify.
    // cv_id base -16e9 keeps a fifth disjoint negative id space
    if (!new java.io.File(s"$dir/audio_shingles.parquet").exists()) {
      import spark.implicits._
      val media = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").as[Long]
        .mapPartitions(_.map(i => (i, xscale.PerceptualDedup.fixtureWavUtt(i * 5))))
        .toDF("doc_id", "payload")
      xscale.PerceptualDedup.mediaShingles(media)
        .select((-(col("doc_id") + 1L) - 16000000000L).as("cv_id"),
          col("mod"), col("s1"), col("q1"), col("s2"), col("q2"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/audio_shingles.parquet")
    }
    // the spatial-crop-admission shingle state (`Cli admit --ptrim`, the
    // vsp space): a tiled 6-frame video per corpus doc, decoded ONCE
    // into its vid + vsp mod-tagged rows — x74_admit_vcrop_steady times
    // only the day-2 classify. cv_id base -18e9 keeps a sixth disjoint
    // negative id space
    if (!new java.io.File(s"$dir/video_tile_shingles.parquet").exists()) {
      import spark.implicits._
      val media = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").as[Long]
        .mapPartitions(_.map(i =>
          (i, xscale.PerceptualDedup.fixtureAviTiles(i * 5, 0))))
        .toDF("doc_id", "payload")
      xscale.PerceptualDedup.mediaShingles(media)
        .select((-(col("doc_id") + 1L) - 18000000000L).as("cv_id"),
          col("mod"), col("s1"), col("q1"), col("s2"), col("q2"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/video_tile_shingles.parquet")
    }
    // the resized-crop-admission shingle state (`Cli admit --ptrim`, the
    // rs2/rs4 rescale spaces): each corpus image's SCALED fingerprints
    // (x156's state role, ~41 rows per 128x96 image), decoded ONCE —
    // x74_admit_rcrop_steady times only the day-2 classify. cv_id base
    // -20e9 keeps a seventh disjoint negative id space
    if (!new java.io.File(s"$dir/image_scaled_shingles.parquet").exists()) {
      import spark.implicits._
      val media = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").as[Long]
        .mapPartitions(_.map(i =>
          (i, xscale.PerceptualDedup.fixtureRcropBmp(i * 5, 0))))
        .toDF("doc_id", "payload")
      xscale.PerceptualDedup
        .mediaShingles(media, rscales = xscale.PerceptualDedup.RescaleSet)
        .filter(col("mod").startsWith("rs"))
        .select((-(col("doc_id") + 1L) - 20000000000L).as("cv_id"),
          col("mod"), col("s1"), col("q1"), col("s2"), col("q2"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/image_scaled_shingles.parquet")
    }
    // x30 with corpus-proportional nc + sampled quantizer training — the
    // scale configuration the oracle-pinned nc=8 query can't use. This is
    // the entry that demonstrates the auto-nc claim: per-doc cost at 10×
    // must stay near the 1× cost (the pinned-nc twin goes quadratic here
    // by construction, every doc being an N-duplicate cluster member).
    val extra: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "x30_semdedup_auto" -> ((s, d) =>
        xscale.Similarity.semDedup(
          s.read.parquet(s"$d/embeddings.parquet"), trainSample = 0.1)),
      // x50 in its full production posture: corpus-proportional nc on the
      // embedding signal PLUS both 100 TB knobs — sampled quantizer
      // training and reliable (storage-backed) checkpointing of the
      // assignment + every CC iteration
      // x139 production swap past PerceptualDedup.BandBoundary (~1e6
      // docs): the 256-bit wide hash in 8 x 32-bit bands on the SAME
      // fixture corpus — 16-bit band buckets hold n/65536 docs, so the
      // registered 64-bit pin's candidate mass grows ~n^2/32768 past 1e6
      // while the wide form's stays ~n^2/2^32·8 (negligible to ~1e9)
      "x139_image_dhash_wide" -> ((s, d) =>
        xscale.PerceptualDedup.fixtureImageStatuses(
          s, s.read.parquet(s"$d/documents.parquet"), wide = true)),
      // media admission in the DAILY-INGEST shape: fixed 250-image batch
      // (150 brightness re-encodes of corpus images + 100 fresh) against
      // the persisted bands state — corpus media never touched, the
      // steady-state flatness claim for the third admission signal
      "x74_admit_img_steady" -> ((s, d) => {
        import s.implicits._
        val state = s.read.parquet(s"$d/media_bands.parquet")
          .select(col("doc_id").as("cv_id"), col("bands"))
        // re-encode targets are v=0 corpus docs (id = i*5): their base
        // gray tops out at 224, so the +16 brightness never wraps a byte
        val batch = ((0L until 150L).map(i => (9000000000L + i,
          xscale.PerceptualDedup.makeBmp(9, 8,
            (x, y) => xscale.PerceptualDedup.fixtureGray(i * 5, x, y) + 16))) ++
          (0L until 100L).map(i => (9100000000L + i,
            xscale.PerceptualDedup.fixtureBmp((2000000000L + i) * 5))))
          .toDF("doc_id", "payload")
        val bands = xscale.PerceptualDedup.imageHashFrame(batch)
          .filter(col("decoded")).select("doc_id", "bands")
        xscale.PerceptualDedup.admitMediaCompare(state, bands)
          .groupBy("near_med").count()
      }),
      // the AUTO form: width picked from the corpus count (mediaWideFor —
      // BandBoundary as code); below the boundary it routes to the
      // classic 64-bit hash, past it to the wide 256-bit form whose
      // measured join stays flat (the x139_image_dhash_wide row) — this
      // entry measures the auto path itself, count included
      "x139_image_auto" -> ((s, d) => {
        val docs = s.read.parquet(s"$d/documents.parquet")
        xscale.PerceptualDedup.fixtureImageStatuses(
          s, docs, wide = xscale.PerceptualDedup.mediaWideFor(docs.count()))
      }),
      // the mixed media-admission steady state: the same fixed-batch-vs-
      // state shape as x74_admit_img_steady, but over ALL THREE
      // modalities — a mod-tagged state (images + clips + videos) and a
      // batch of 100 brightened images + 100 re-gained clips + 100
      // re-rendered videos + 50 fresh; proves the modality key keeps the
      // banded join flat with every signal live
      "x74_admit_media_steady" -> ((s, d) => {
        import s.implicits._
        val imgState = s.read.parquet(s"$d/media_bands.parquet")
          .select(col("doc_id").as("cv_id"), lit("img").as("mod"), col("bands"))
        val audState = s.read.parquet(s"$d/audio_bands.parquet")
          .select(col("cv_id"), lit("aud").as("mod"), col("bands"))
        val vidState = s.read.parquet(s"$d/video_bands.parquet")
          .select(col("cv_id"), lit("vid").as("mod"), col("bands"))
        val state = imgState.unionByName(audState).unionByName(vidState)
        val batch = ((0L until 100L).map(i => (9000000000L + i,
          xscale.PerceptualDedup.makeBmp(9, 8,
            (x, y) => xscale.PerceptualDedup.fixtureGray(i * 5, x, y) + 16))) ++
          (0L until 100L).map(i => (9100000000L + i,
            xscale.PerceptualDedup.fixtureWavShift(i * 5, 10))) ++
          (0L until 100L).map(i => (9300000000L + i,
            xscale.PerceptualDedup.fixtureAvi2x(i * 5))) ++
          (0L until 50L).map(i => (9200000000L + i,
            xscale.PerceptualDedup.fixtureBmp((2000000000L + i) * 5))))
          .toDF("doc_id", "payload")
        val bands = xscale.PerceptualDedup.mediaHashFrame(batch)
          .filter(col("decoded")).select("doc_id", "mod", "bands")
        xscale.PerceptualDedup.admitMediaCompare(state, bands)
          .groupBy("mod", "near_med").count()
      }),
      // the x147 scale path measured: corpus-wide trimmed-copy detection
      // via LSH candidates + exact verify (every 15th doc re-posts a
      // trim) — the production twin of the all-pairs fingerprint join,
      // on the 181-level fixture that IS that join's collision worst case
      "x147_containment_lsh" -> ((s, d) => {
        import s.implicits._
        val ids = s.read.parquet(s"$d/documents.parquet").select("doc_id")
        val src = ids
          .select(col("doc_id"), col("doc_id").as("img_id"),
            lit(0).as("off"), lit(65).as("nf"))
          .unionByName(ids.filter(col("doc_id") % 15 === 0)
            .select((col("doc_id") + 5000000L).as("doc_id"),
              col("doc_id").as("img_id"), lit(10).as("off"), lit(55).as("nf")))
        val media = src.as[(Long, Long, Int, Int)]
          .mapPartitions(_.map { case (id, img, off, nf) =>
            val levels = Array.tabulate(nf)(f =>
              xscale.PerceptualDedup.fixtureFrameVid(img, f + off))
            (id, xscale.PerceptualDedup.makeAvi(4, 4, nf, (f, _, _) => levels(f)))
          })
          .toDF("doc_id", "payload")
        xscale.PerceptualDedup.videoContainmentPairsLsh(media)
      }),
      // the x152 scale path measured: corpus-wide cropped-copy detection
      // via the same LSH engine on tile shingles (every 15th doc
      // re-posts a tile-aligned crop) — the production twin of the
      // all-pairs tile-fingerprint join
      "x152_crop_lsh" -> ((s, d) => {
        import s.implicits._
        val ids = s.read.parquet(s"$d/documents.parquet").select("doc_id")
        val src = ids
          .select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("off"))
          .unionByName(ids.filter(col("doc_id") % 15 === 0)
            .select((col("doc_id") + 5000000L).as("doc_id"),
              col("doc_id").as("img_id"), lit(1).as("off")))
        val t = xscale.PerceptualDedup.TileSize
        val media = src.as[(Long, Long, Int)]
          .mapPartitions(_.map { case (id, img, off) =>
            val tw = xscale.PerceptualDedup.CropTilesX - off
            val th = xscale.PerceptualDedup.CropTilesY - off
            val levels = Array.tabulate(tw, th)((i, j) =>
              xscale.PerceptualDedup.fixtureTileLvl(img, i + off, j + off))
            (id, xscale.PerceptualDedup.makeBmp(tw * t, th * t,
              (x, y) => levels(x / t)(y / t)))
          })
          .toDF("doc_id", "payload")
        xscale.PerceptualDedup.imageCropContainmentPairsLsh(media)
      }),
      // the x153 scale path measured: corpus-wide excerpt detection via
      // the same LSH engine on utterance bigrams (every 15th doc
      // re-posts a pause-cut excerpt)
      "x153_utt_lsh" -> ((s, d) => {
        import s.implicits._
        val ids = s.read.parquet(s"$d/documents.parquet").select("doc_id")
        val drop = xscale.PerceptualDedup.UttDrop
        val src = ids
          .select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("off"))
          .unionByName(ids.filter(col("doc_id") % 15 === 0)
            .select((col("doc_id") + 5000000L).as("doc_id"),
              col("doc_id").as("img_id"), lit(drop).as("off")))
        val media = src.as[(Long, Long, Int)]
          .mapPartitions(_.map { case (id, img, off) =>
            (id, xscale.PerceptualDedup.fixtureWavUtt(img, off))
          })
          .toDF("doc_id", "payload")
        xscale.PerceptualDedup.audioContainmentPairsLsh(media)
      }),
      // the x154 scale path measured: corpus-wide SPATIAL-crop detection
      // via the shared LSH engine on cross-frame tile shingles (every
      // 15th doc re-posts a tile-aligned spatial crop of its video) —
      // the production twin of the all-pairs fingerprint join
      // the x156 scale path measured: resized-crop containment via the
      // bipartite multi-scale LSH — every 15th doc posts the 2x-resized
      // crop, every 45th the 4x one; ONE decode pass per image yields
      // native + scaled fingerprint sets, band join native-vs-scaled only
      "x156_rcrop_lsh" -> ((s, d) => reliable(s, d) {
        import s.implicits._
        val ids = s.read.parquet(s"$d/documents.parquet").select("doc_id")
        val src = ids
          .select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("kind"))
          .unionByName(ids.filter(col("doc_id") % 15 === 0)
            .select((col("doc_id") + 5000000L).as("doc_id"),
              col("doc_id").as("img_id"), lit(2).as("kind")))
          .unionByName(ids.filter(col("doc_id") % 45 === 0)
            .select((col("doc_id") + 6000000L).as("doc_id"),
              col("doc_id").as("img_id"), lit(4).as("kind")))
        val media = src.as[(Long, Long, Int)]
          .mapPartitions(_.map { case (id, img, kind) =>
            (id, xscale.PerceptualDedup.fixtureRcropBmp(img, kind))
          })
          .toDF("doc_id", "payload")
        // storage-backed cuts (the heavy-smoke rule): the 100x corpus
        // carries ~110M multi-scale fingerprints
        xscale.PerceptualDedup.resizedCropContainmentPairsLsh(
          media)
      }),
      "x154_vcrop_lsh" -> ((s, d) => reliable(s, d) {
        import s.implicits._
        val ids = s.read.parquet(s"$d/documents.parquet").select("doc_id")
        val src = ids
          .select(col("doc_id"), col("doc_id").as("img_id"), lit(0).as("off"))
          .unionByName(ids.filter(col("doc_id") % 15 === 0)
            .select((col("doc_id") + 5000000L).as("doc_id"),
              col("doc_id").as("img_id"), lit(1).as("off")))
        val media = src.as[(Long, Long, Int)]
          .mapPartitions(_.map { case (id, img, off) =>
            (id, xscale.PerceptualDedup.fixtureAviTiles(img, off))
          })
          .toDF("doc_id", "payload")
        // storage-backed cuts (the x30/x50 heavy-smoke rule): the 100x
        // corpus carries ~64M vsp fingerprints — local-checkpoint memory
        // blocks for the shingle frame alone exceed the default 8g heap
        xscale.PerceptualDedup.videoSpatialContainmentPairsLsh(
          media)
      }),
      // the x155 scale path measured: cropped-thumbnail provenance via
      // the bipartite LSH (every 3rd doc posts a thumbnail of one frame,
      // every 6th cropped) — image decode + per-frame video decode, band
      // join across sides only
      "x155_thumb_lsh" -> ((s, d) => reliable(s, d) {
        import s.implicits._
        val ids = s.read.parquet(s"$d/documents.parquet").select("doc_id")
        val vids = ids.as[Long]
          .mapPartitions(_.map(id => (id, xscale.PerceptualDedup.fixtureAviTiles(id, 0))))
          .toDF("doc_id", "payload")
        val thumbs = ids.filter(col("doc_id") % 3 === 0).as[Long]
          .mapPartitions(_.map { id =>
            val f0 = ((id / 3) % xscale.PerceptualDedup.VcropFrames).toInt
            val off = if (id % 6 == 0) 1 else 0
            (id + 7000000L, xscale.PerceptualDedup.fixtureThumbBmp(id, f0, off))
          })
          .toDF("doc_id", "payload")
        xscale.PerceptualDedup.thumbnailContainmentPairsLsh(
          thumbs, vids)
      }),
      // the spatial-crop leg's steady state: a fixed batch of 200
      // tile-aligned spatial crops of corpus videos + 50 fresh,
      // classified against the persisted mod-tagged shingle state — the
      // flat 10x -> 100x claim on the fourth shingle space
      "x74_admit_vcrop_steady" -> ((s, d) => {
        import s.implicits._
        val state = s.read.parquet(s"$d/video_tile_shingles.parquet")
        val batch = ((0L until 200L).map(i =>
          (9300000000L + i, xscale.PerceptualDedup.fixtureAviTiles(i * 5, 1))) ++
          (0L until 50L).map(i =>
            (9400000000L + i,
              xscale.PerceptualDedup.fixtureAviTiles((2400000000L + i) * 5, 0))))
          .toDF("doc_id", "payload")
        xscale.PerceptualDedup.admitTrimCompare(
          // cut the batch frame BEFORE the call (the admitTrimCompare
          // contract): the broadcast-decision count on a raw decode plan
          // would run the full batch decode one extra time
          state, xscale.DedupClusters.ckpt(
            xscale.PerceptualDedup.mediaShingles(batch)))
          .groupBy("near_trim").count()
      }),
      // the excerpt leg's steady state: a fixed batch of 200 pause-cut
      // excerpts of corpus clips + 50 fresh classified against the
      // persisted mod-tagged shingle state — the flat 10x -> 100x claim
      // on the third containment modality
      "x74_admit_atrim_steady" -> ((s, d) => {
        import s.implicits._
        val state = s.read.parquet(s"$d/audio_shingles.parquet")
        val drop = xscale.PerceptualDedup.UttDrop
        val batch = ((0L until 200L).map(i =>
          (9800000000L + i, xscale.PerceptualDedup.fixtureWavUtt(i * 5, drop))) ++
          (0L until 50L).map(i =>
            (9900000000L + i, xscale.PerceptualDedup.fixtureWavUtt((2300000000L + i) * 5))))
          .toDF("doc_id", "payload")
        xscale.PerceptualDedup.admitTrimCompare(
          state, xscale.DedupClusters.ckpt(
            xscale.PerceptualDedup.mediaShingles(batch)))
          .groupBy("near_trim").count()
      }),
      // the crop leg's steady state: a fixed batch of 200 tile-aligned
      // crops of corpus images + 50 fresh classified against the
      // persisted mod-tagged shingle state — same flat 10x -> 100x claim
      // as the vtrim twin (candidate mass follows fingerprint collisions,
      // not state rows)
      "x74_admit_icrop_steady" -> ((s, d) => {
        import s.implicits._
        val state = s.read.parquet(s"$d/image_shingles.parquet")
        val t = xscale.PerceptualDedup.TileSize
        def crop(img: Long) = {
          val tw = xscale.PerceptualDedup.CropTilesX - 1
          val th = xscale.PerceptualDedup.CropTilesY - 1
          val levels = Array.tabulate(tw, th)((x, y) =>
            xscale.PerceptualDedup.fixtureTileLvl(img, x + 1, y + 1))
          xscale.PerceptualDedup.makeBmp(tw * t, th * t,
            (x, y) => levels(x / t)(y / t))
        }
        def full(img: Long) = {
          val levels = Array.tabulate(
            xscale.PerceptualDedup.CropTilesX, xscale.PerceptualDedup.CropTilesY)(
            (x, y) => xscale.PerceptualDedup.fixtureTileLvl(img, x, y))
          xscale.PerceptualDedup.makeBmp(
            xscale.PerceptualDedup.CropTilesX * t, xscale.PerceptualDedup.CropTilesY * t,
            (x, y) => levels(x / t)(y / t))
        }
        val batch = ((0L until 200L).map(i => (9600000000L + i, crop(i * 5))) ++
          (0L until 50L).map(i => (9700000000L + i, full((2200000000L + i) * 5))))
          .toDF("doc_id", "payload")
        xscale.PerceptualDedup.admitTrimCompare(
          state, xscale.DedupClusters.ckpt(
            xscale.PerceptualDedup.mediaShingles(batch)))
          .groupBy("near_trim").count()
      }),
      // the resized-crop leg's steady state: a fixed batch of 200
      // 2x-resized crops of corpus images + 50 fresh, the batch's NATIVE
      // fingerprints re-tagged per rescale space and classified against
      // the persisted SCALED state (the RescaleSpace asymmetry) — the
      // flat 10x -> 100x claim on the x156 admission signal
      "x74_admit_rcrop_steady" -> ((s, d) => {
        import s.implicits._
        val state = s.read.parquet(s"$d/image_scaled_shingles.parquet")
        val batch = ((0L until 200L).map(i =>
          (9950000000L + i, xscale.PerceptualDedup.fixtureRcropBmp(i * 5, 2))) ++
          (0L until 50L).map(i =>
            (9960000000L + i,
              xscale.PerceptualDedup.fixtureRcropBmp((2500000000L + i) * 5, 0))))
          .toDF("doc_id", "payload")
        val batchSh = xscale.DedupClusters.ckpt(
          xscale.PerceptualDedup.mediaShingles(
            batch, rscales = xscale.PerceptualDedup.RescaleSet))
        // single-branch explode re-tag (the admitRcropLeg rule): a union
        // of filtered branches races the lazy-ckpt blocks on first action
        val compare = batchSh.filter(col("mod") === "img")
          .withColumn("mod", explode(array(
            xscale.PerceptualDedup.RescaleSpaces.map(sp => lit(sp.space)): _*)))
        xscale.PerceptualDedup
          .admitTrimDocVerdicts(
            xscale.PerceptualDedup.admitTrimCompare(state, compare))
          .groupBy("near_trim").count()
      }),
      // the trim leg's steady state: a fixed batch of 200 re-cut corpus
      // videos + 50 fresh classified against the persisted shingle state
      // — the fingerprint join is keyed on 32-byte values, so candidate
      // mass follows the state's fingerprint collision rate, not its row
      // count; flat 10x -> 100x is the claim
      "x74_admit_vtrim_steady" -> ((s, d) => {
        import s.implicits._
        val state = s.read.parquet(s"$d/video_shingles.parquet")
        val batch = ((0L until 200L).map(i => (9400000000L + i,
          xscale.PerceptualDedup.makeAvi(4, 4,
            xscale.PerceptualDedup.VideoWindows - 10,
            (f, _, _) => xscale.PerceptualDedup.fixtureFrameVid(i * 5, f + 10)))) ++
          (0L until 50L).map(i => (9500000000L + i,
            xscale.PerceptualDedup.fixtureAvi((2100000000L + i) * 5))))
          .toDF("doc_id", "payload")
        xscale.PerceptualDedup.admitTrimCompare(
          state, xscale.DedupClusters.ckpt(
            xscale.PerceptualDedup.videoFrameShingles(batch)))
          .groupBy("near_trim").count()
      }),
      // the `Cli corpus --mquality` gate shape, measured end to end: one
      // modality-detected decode pass over the same three-way media mix
      // as the pdedup entry, one groupBy — the gate's cost IS the decode
      "corpus_mquality_stage" -> ((s, d) => {
        import s.implicits._
        val media = s.read.parquet(s"$d/documents.parquet").select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            (id,
              if (id % 3 == 1) xscale.PerceptualDedup.fixtureWav(id)
              else if (id % 3 == 2) xscale.PerceptualDedup.fixtureAvi(id)
              else xscale.PerceptualDedup.fixtureBmp(id))
          })
          .toDF("doc_id", "payload")
        xscale.Multimodal.mediaQualityFrame(media)
          .groupBy("mod", "flagged").count()
      }),
      // the COMPOSED end-to-end multimodal --scale recipe (VERDICT r13
      // ask 5): every corpus-build stage in ONE run over all three
      // modalities — quality -> strict -> mquality -> dedup_exact ->
      // joint near-dup (emb leg) -> capped audits -> pdedup keep-best ->
      // despan -> dsir -> split/pack — via the real Cli verb, against
      // the persisted mixed_media sidecar (fixture synthesis excluded
      // from the timing). The number to quote BESIDE the per-stage
      // corpus_pdedup_stage / corpus_mquality_stage entries.
      "corpus_full_multimodal" -> ((s, d) => {
        val out = s"$d/_full_corpus_out"
        val rc = graft.Cli.run(s, List("corpus", s"$d/documents.parquet", out,
          "--strict", "--scale", "--emb", s"$d/embeddings.parquet",
          "--mquality", s"$d/mixed_media.parquet",
          "--pdedup", s"$d/mixed_media.parquet",
          "--pcontain", s"$d/mixed_media.parquet",
          "--despan", "--dsir", "en",
          "--ckpt", s"$d/_checkpoints"))
        require(rc == 0, s"composed corpus build failed, rc=$rc")
        s.read.parquet(out)
      }),
      // the `Cli corpus --pcontain` stage shape, measured end to end:
      // mixed media with every 15th doc's trim/crop/excerpt planted
      // (modality by cluster, matching the pdedup fixture's split), one
      // modality-detected shingle pass -> per-mod LSH candidates ->
      // exact verify -> CC -> keep-most-shingles
      "corpus_pcontain_stage" -> ((s, d) => reliable(s, d) {
        import s.implicits._
        val docs = s.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
        val t = xscale.PerceptualDedup.TileSize
        val media = docs.select(col("doc_id")).as[Long]
          .mapPartitions(_.flatMap { id =>
            val m = (id / xscale.PerceptualDedup.ClusterSize) % 3
            val full =
              if (m == 1) xscale.PerceptualDedup.fixtureWavUtt(id)
              else if (m == 2) xscale.PerceptualDedup.fixtureAvi(id)
              else {
                val levels = Array.tabulate(
                  xscale.PerceptualDedup.CropTilesX, xscale.PerceptualDedup.CropTilesY)(
                  (x, y) => xscale.PerceptualDedup.fixtureTileLvl(id, x, y))
                xscale.PerceptualDedup.makeBmp(
                  xscale.PerceptualDedup.CropTilesX * t,
                  xscale.PerceptualDedup.CropTilesY * t,
                  (x, y) => levels(x / t)(y / t))
              }
            val re = if (id % 15 != 0) Nil else Seq((id + 5000000L,
              if (m == 1)
                xscale.PerceptualDedup.fixtureWavUtt(id, xscale.PerceptualDedup.UttDrop)
              else if (m == 2) xscale.PerceptualDedup.makeAvi(4, 4,
                xscale.PerceptualDedup.VideoWindows - 10,
                (f, _, _) => xscale.PerceptualDedup.fixtureFrameVid(id, f + 10))
              else {
                val tw = xscale.PerceptualDedup.CropTilesX - 1
                val th = xscale.PerceptualDedup.CropTilesY - 1
                val levels = Array.tabulate(tw, th)((x, y) =>
                  xscale.PerceptualDedup.fixtureTileLvl(id, x + 1, y + 1))
                xscale.PerceptualDedup.makeBmp(tw * t, th * t,
                  (x, y) => levels(x / t)(y / t))
              }))
            Seq((id, full)) ++ re
          })
          .toDF("doc_id", "payload")
        // storage-backed cuts (the x30/x50 heavy-smoke rule): the stage
        // pins several corpus-sized shingle/band frames across its CC —
        // memory-pinned localCheckpoints would squeeze the runtime
        // broadcasts out of the shared local-mode heap at 100x
        xscale.PerceptualDedup.mediaContainmentLosers(
          media)
      }),
      // the `Cli corpus --pdedup` stage shape, measured end to end: one
      // modality-detected decode pass over REAL three-way mixed media —
      // modality chosen per CLUSTER ((id / ClusterSize) % 3), never per
      // id: the same-content variants of a cluster are CONSECUTIVE ids,
      // so a per-id split would scatter them across modalities and the
      // mod-keyed candidate join would run over an empty pair graph
      // (caught in review — the stage must exercise its join/CC path,
      // not just the decode); banded pairs -> CC -> keep-one; width
      // auto-picked from the media count (mediaWideFor)
      "corpus_pdedup_stage" -> ((s, d) => {
        import s.implicits._
        val docs = s.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
        // width picked ONCE from the media count, like the Cli stage; the
        // image/video fixtures must be grid-sized for the chosen width (a
        // wide hash of a 9x8 image or a 65-frame clip is None by the
        // smaller-than-grid rule); the 520-sample WAV fixture clears both
        // frame counts as-is
        val wide = xscale.PerceptualDedup.mediaWideFor(docs.count())
        val media = docs.select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val m = (id / xscale.PerceptualDedup.ClusterSize) % 3
            (id,
              if (m == 1) xscale.PerceptualDedup.fixtureWav(id)
              else if (m == 2)
                (if (wide) xscale.PerceptualDedup.fixtureAviWide(id)
                 else xscale.PerceptualDedup.fixtureAvi(id))
              else if (wide) xscale.PerceptualDedup.fixtureBmpWide(id)
              else xscale.PerceptualDedup.fixtureBmp(id))
          })
          .toDF("doc_id", "payload")
        // the SHIPPED stage composition (keep-best by nbytes, one decode
        // pass, CC on band keys)
        val hf = xscale.DedupClusters.ckpt(
          xscale.PerceptualDedup.mediaHashFrame(media, wide)
            .filter(col("decoded")))
        val comp = xscale.DedupClusters.connectedComponents(
          xscale.PerceptualDedup.bandNearDupPairs(
            hf, xscale.PerceptualDedup.widthThreshold(wide)))
        xscale.DedupClusters.dedupByComponentsKeepBest(
          docs.join(hf.select("doc_id", "nbytes"), Seq("doc_id"), "left"),
          comp,
          coalesce(col("nbytes"), lit(-1L)))
      }),
      "x50_joint_auto" -> ((s, d) => reliable(s, d)(
        xscale.Dedup.jointDedup(
          s.read.parquet(s"$d/documents.parquet"),
          s.read.parquet(s"$d/embeddings.parquet"),
          trainSample = 0.1))),
      // x50 with the embedding leg on x138's IMI product cells: the same
      // cell count as auto-nc at O(n·√cells) assignment instead of
      // O(n·nc) — the form whose quantizer survives 100× (measured; the
      // flat auto form's assignment is the named quadratic cap there)
      "x50_joint_imi" -> ((s, d) => reliable(s, d)(
        xscale.Dedup.jointDedupImi(
          s.read.parquet(s"$d/documents.parquet"),
          s.read.parquet(s"$d/embeddings.parquet"),
          trainSample = 0.1))),
      // x52/x54 library defaults = corpus-proportional nc + sampled
      // quantizer training (the oracle queries pin nc=NC for the SQL
      // twin's literal)
      "x52_cluster_auto" -> ((s, d) =>
        xscale.Similarity.clusterCapped(
          s.read.parquet(s"$d/embeddings.parquet"),
          s.read.parquet(s"$d/documents.parquet"), trainSample = 0.1)),
      "x54_proto_auto" -> ((s, d) =>
        xscale.Similarity.protoPrune(
          s.read.parquet(s"$d/embeddings.parquet"), trainSample = 0.1)),
      // x68 in its production posture: corpus-proportional coarse cells
      // (mean cell ≈ TargetClusterSize vectors, so nprobe/nc keeps the
      // candidate scan near-constant per query as the corpus grows),
      // sampled quantizer training, reliable checkpoints
      "x68_ivfpq_auto" -> ((s, d) => reliable(s, d) {
        val emb = s.read.parquet(s"$d/embeddings.parquet")
        val nc = math.max(xscale.Similarity.NC.toLong,
          emb.count() / xscale.Similarity.TargetClusterSize).toInt
        xscale.Similarity.ivfPqKnn(emb, col("vec_id") < 10,
          ncCoarse = nc, trainSample = 0.1)
      }),
      // x51 scale path: sampled-threshold selection, no global window
      "x51_dsir_threshold" -> ((s, d) =>
        xscale.DataPrep.dsirSelectThreshold(
          s.read.parquet(s"$d/documents.parquet"), col("lang") === "en")),
      // x57 scale path: the flagship one-plan pipeline with x51's sampled
      // threshold composed in — zero unpartitioned ranking windows.
      // x57_pipeline_threshold itself is a REGISTERED query now (the
      // oracle-keyed exactQuantile form, resolved from SparkEntry); this
      // twin measures the library DEFAULT (approx_percentile — the
      // bounded-memory aggregate a 100 TB run ships) on the same corpus.
      "x57_pipeline_approx" -> ((s, d) => reliable(s, d)(
        xscale.DataPrep.pipelineThreshold(
          s.read.parquet(s"$d/documents.parquet")))),
      // x91 in its production posture: sampled quantizer training +
      // reliable checkpoints (the oracle query trains on every chunk)
      "x91_rag_auto" -> ((s, d) => reliable(s, d)(
        xscale.Similarity.ragIndex(
          s.read.parquet(s"$d/documents.parquet"),
          trainSample = 0.1))),
      // x88_bm25_capped and x98_hubness_ann are registered queries now
      // (r9) — SparkEntry.queries resolves them, no extra thunk needed.
      // x101 scale posture: sampled-quantile phase cuts, no global window
      // (the registered query pins the oracle-exact global NTILE)
      "x101_curriculum_auto" -> ((s, d) =>
        xscale.TextAnalysis.curriculumByThresholds(
          s.read.parquet(s"$d/documents.parquet"))),
      // x104 scale posture: approx percentiles, no per-source window
      // (the registered query pins the exact rank rule)
      "x104_quantiles_auto" -> ((s, d) =>
        xscale.TextAnalysis.lengthQuantilesApprox(
          s.read.parquet(s"$d/documents.parquet"))),
      // x107 scale posture: sampled-quantile phases + (phase, shard)
      // cumsum — no global window anywhere
      "x107_phase_packing_auto" -> ((s, d) =>
        xscale.DataPrep.phasePackingByThresholds(
          s.read.parquet(s"$d/documents.parquet"))),
      // x92 scale posture: seed cap grown with the corpus (10x docs ->
      // 10x cells, keeping per-cell rerank cost flat — the IVF contract;
      // the fixed-cap oracle query's cells fatten linearly instead)
      "x92_rag_auto" -> ((s, d) => reliable(s, d)(
        xscale.Similarity.ragRetrieval(
          s.read.parquet(s"$d/documents.parquet"),
          seedCap = 40000L,
          trainSample = 0.1))),
      // x113 scale posture: ground truth stays sample-bounded — the
      // query sample THINS as the corpus grows (mod 1000 here vs the
      // registered mod-20 pin) because recall@k's statistical value
      // saturates in the hundreds of queries while brute-force ground
      // truth cost is |sample| x |corpus|.
      // x88 in its PRODUCTION posture, on the vocabulary shape production
      // corpora actually have: Zipfian. The 10%-df cap prunes the ~130-
      // word head (where most posting MASS lives — the |q| x n fan-out
      // the flat fixture could never shed) while the informative tail
      // survives and still ranks; the query sample THINS with the corpus
      // (qMod x factor, the x113 rule — eval value saturates in the
      // thousands of queries), so total eval cost is dominated by the
      // linear posting build, not |queries| x df.
      "x88_bm25_zipf" -> ((s, d) =>
        xscale.TextAnalysis.bm25Retrieval(
          s.read.parquet(s"$d/zipf_documents.parquet"),
          qMod = zipfQMod(factor),
          maxDfPpm = ZipfDfCapPpm)),
      // the uncapped twin at the SAME thinned query sample — run
      // explicitly for the cap's measured value on the Zipf shape
      "x88_bm25_zipf_exact" -> ((s, d) =>
        xscale.TextAnalysis.bm25Retrieval(
          s.read.parquet(s"$d/zipf_documents.parquet"),
          qMod = zipfQMod(factor))),
      // The x07-graph heavies in their 100 TB posture: the LSH plane
      // count grows with the corpus (autoNp — the LSH analog of auto-nc)
      // so mean bucket occupancy, and with it per-table candidate-pair
      // mass, stays ~linear instead of n²/2^NP. The pinned-NP twins keep
      // the oracle literals; these are the forms that scale. True clones
      // still share every bucket (no hash can split identical vectors) —
      // the clone fixture's residual cost is its clique mass, priced by
      // x136's sum_pairs arithmetic.
      // x138 in its production posture: per-half codebooks sized √(n/64)
      // so the product grid tracks the corpus (cells ∝ n, mean occupancy
      // ~TargetClusterSize) while per-vector assignment cost grows only
      // as √cells — the measured remediation of x50's flat-assignment
      // named cap (flat at the same cell count would be O(n²/64)).
      "x138_imi_auto" -> ((s, d) => reliable(s, d) {
        val emb = s.read.parquet(s"$d/embeddings.parquet")
        xscale.Similarity.imiCells(
          emb,
          nc = xscale.Similarity.imiAutoNc(emb.count()),
          trainSample = 0.1)
      }),
      "x98_hubness_ann_auto" -> ((s, d) => {
        val emb = s.read.parquet(s"$d/embeddings.parquet")
        xscale.Similarity.hubnessFromKnn(
          xscale.Similarity.knnLshAuto(emb, lit(true)), emb)
      }),
      "x110_label_noise_auto" -> ((s, d) => {
        val emb = s.read.parquet(s"$d/embeddings.parquet")
        xscale.Similarity.knnLabelAgreement(
          xscale.Similarity.knnLshAuto(emb, lit(true)), emb)
      }),
      // The dedup/ANN heavies on the POWER-LAW fixture — the measured
      // 100x numbers for the shapes the clique fixture aborts by
      // construction (its every doc is a factor-sized clique member, so
      // pair generation alone is C(factor·dups,2)·clusters). Same ops,
      // same knobs; only the corpus is the realistic one.
      // The narrow (oracle-currency) forms run to the 1e5-docs/shard
      // boundary the 6-7-bit pigeonhole blocks are calibrated for; past
      // it (100x = 500k docs) the _wide twins below ARE the production
      // posture — x15's 120-bit blocks, SURVEY's documented escape hatch.
      "x14_powerlaw" -> ((s, d) => {
        val docs = s.read.parquet(s"$d/powerlaw_documents.parquet")
        xscale.DedupClusters.dedupByPairs(
          docs,
          xscale.Dedup.simhashPairs(docs)
            .select(col("doc_id_a").as("a"), col("doc_id_b").as("b")))
          .groupBy("source").agg(count(lit(1)).as("n_after"))
      }),
      "x14_powerlaw_wide" -> ((s, d) => {
        val docs = s.read.parquet(s"$d/powerlaw_documents.parquet")
        xscale.DedupClusters.dedupByPairs(
          docs, xscale.Dedup.textLegPairs(docs, xscale.Dedup.SimhashWideLeg))
          .groupBy("source").agg(count(lit(1)).as("n_after"))
      }),
      "x14_powerlaw_minhash" -> ((s, d) => {
        val docs = s.read.parquet(s"$d/powerlaw_documents.parquet")
        xscale.DedupClusters.dedupByPairs(
          docs, xscale.Dedup.textLegPairs(docs, xscale.Dedup.MinhashLeg))
          .groupBy("source").agg(count(lit(1)).as("n_after"))
      }),
      "x50_joint_imi_powerlaw" -> ((s, d) => reliable(s, d)(
        xscale.Dedup.jointDedupImi(
          s.read.parquet(s"$d/powerlaw_documents.parquet"),
          s.read.parquet(s"$d/powerlaw_embeddings.parquet"),
          trainSample = 0.1))),
      "x50_joint_imi_powerlaw_minhash" -> ((s, d) => reliable(s, d)(
        xscale.Dedup.jointDedupImi(
          s.read.parquet(s"$d/powerlaw_documents.parquet"),
          s.read.parquet(s"$d/powerlaw_embeddings.parquet"),
          trainSample = 0.1,
          textLeg = xscale.Dedup.MinhashLeg))),
      // the cascade in its any-size posture: near-dup leg auto-chosen by
      // the exact-survivor count (simhash ≤ 1e5, minhash past it)
      "x99_cascade_powerlaw_auto" -> ((s, d) => reliable(s, d)(
        xscale.Dedup.dedupCascadeAuto(
          s.read.parquet(s"$d/powerlaw_documents.parquet")))),
      // The admission posture at scale: a FIXED 250-doc batch against the
      // growing powerlaw corpus. The text form pays one corpus signature
      // pass; the sigs form reads the persisted sidecar instead — the
      // `Cli admit --sigs` day-2 steady state, whose corpus-side cost is
      // a (doc_id, key, sig) parquet scan, not a text re-hash.
      "x74_admit_powerlaw" -> ((s, d) => {
        val docs = s.read.parquet(s"$d/powerlaw_documents.parquet")
        xscale.Dedup.incrementalDedup(docs, admitBatch(docs))
          .groupBy("status").agg(count(lit(1)).as("n_docs"))
      }),
      "x74_admit_sigs_powerlaw" -> ((s, d) => {
        val docs = s.read.parquet(s"$d/powerlaw_documents.parquet")
        xscale.Dedup.incrementalDedupSigs(
          s.read.parquet(s"$d/powerlaw_sigs.parquet"),
          xscale.Dedup.dedupSignatures(admitBatch(docs)))
          .groupBy("status").agg(count(lit(1)).as("n_docs"))
      }),
      // the EMB leg's two postures: live (corpus embeddings scanned +
      // quantizer trained per run) vs the frozen --esigs state (day-2:
      // centroids collected, corpus touched only through state rows). The
      // fixed batch = 200 copies of corpus vectors (guaranteed flags) +
      // 50 negations (novel direction in the near-isotropic fixture).
      "x74_admit_emb_powerlaw" -> ((s, d) => reliable(s, d) {
        val emb = s.read.parquet(s"$d/powerlaw_embeddings.parquet")
        xscale.Similarity.admitEmbedding(
          emb, admitEmbBatch(emb), trainSample = 0.1)
          .groupBy("near_emb").agg(count(lit(1)).as("n"))
      }),
      "x74_admit_esigs_powerlaw" -> ((s, d) => reliable(s, d) {
        val emb = s.read.parquet(s"$d/powerlaw_embeddings.parquet")
        xscale.Similarity.admitEmbeddingSigs(
          s, s"$d/powerlaw_esigs", admitEmbBatch(emb))
          .groupBy("near_emb").agg(count(lit(1)).as("n"))
      }),
      // the round-12 admission additions at scale: (a) the strict emb
      // pass = esigs classification + within-cell cosine CC over the
      // admitted batch vectors (batch-sized self-join bucketed by cell —
      // must stay FLAT as the corpus grows, the whole point); (b) emb
      // state compaction = left_semi of the corpus-sized assign table on
      // the live ids + keep-one (one keyed shuffle, linear in state)
      "x74_emb_strict_powerlaw" -> ((s, d) => reliable(s, d) {
        val emb = s.read.parquet(s"$d/powerlaw_embeddings.parquet")
        val frame = xscale.Similarity.admitEmbeddingSigs(
          s, s"$d/powerlaw_esigs", admitEmbBatch(emb)).localCheckpoint()
        val losers = xscale.Similarity.admitEmbStrictLosers(
          frame.filter(!col("near_emb")).select("vec_id", "cid", "cv", "cn"))
        losers.agg(count(lit(1)).as("n_losers"))
      }),
      "x74_esigs_compact_powerlaw" -> ((s, d) => {
        val assign = s.read.parquet(s"$d/powerlaw_esigs/assign")
        val live = s.read.parquet(s"$d/powerlaw_embeddings.parquet")
          .filter(col("vec_id") % 5 =!= 0).select("vec_id")
        xscale.Similarity.compactEmbAssign(assign, live)
          .agg(count(lit(1)).as("n_state"))
      }),
      "x121_lsh_fidelity_powerlaw" -> ((s, d) =>
        xscale.Dedup.lshFidelity(
          s.read.parquet(s"$d/powerlaw_documents.parquet"), sampleMod = 10L)),
      "x122_cluster_diameter_powerlaw" -> ((s, d) =>
        xscale.Dedup.clusterDiameter(
          s.read.parquet(s"$d/powerlaw_documents.parquet"), maxClusterSize = 8L)),
      "x122_cluster_diameter_powerlaw_wide" -> ((s, d) =>
        xscale.Dedup.clusterDiameter(
          s.read.parquet(s"$d/powerlaw_documents.parquet"), maxClusterSize = 8L,
          wide = true)),
      // x121 scale posture: the fidelity estimate runs on a mod-10 doc
      // sample (10^7 | shift, so id-shifted duplicate clusters survive
      // sampling intact) — the quadratic exact-Jaccard truth leg shrinks
      // ~100x while the S-curve/recall estimate stays unbiased. The
      // registered mod-2 twin pins the knob's identity to the oracle.
      "x121_lsh_fidelity_auto" -> ((s, d) =>
        xscale.Dedup.lshFidelity(
          s.read.parquet(s"$d/documents.parquet"), sampleMod = 10L)),
      // x122 scale posture: mega-clusters sampled to 8 members before the
      // within-cluster self-join — on this all-clique fixture every
      // cluster is a (factor x fixture-dup) pile, exactly the shape the
      // cap exists for; n_capped makes the estimate's coverage visible.
      "x122_cluster_diameter_auto" -> ((s, d) =>
        xscale.Dedup.clusterDiameter(
          s.read.parquet(s"$d/documents.parquet"), maxClusterSize = 8L)),
      "x113_ann_recall_auto" -> ((s, d) => {
        val emb = s.read.parquet(s"$d/embeddings.parquet")
        val sel = col("vec_id") % 1000 === 0
        xscale.Similarity.annRecall(
          xscale.Similarity.knnLsh(emb, sel),
          xscale.Similarity.knnBrute(emb, sel), emb)
      }),
      // CC skew posture: same edge count (1.1 M pairs), three shapes —
      // uniform 2-cliques, one 1M-leaf mega-star (hot join key every
      // label-prop round), and the mega-star with the salts=8 escape
      // hatch. The claim under test: the hot key costs no more than ~2×
      // uniform, and salting recovers the difference when it matters.
      "cc_uniform" -> ((s, _) =>
        xscale.DedupClusters.connectedComponents(
          s.range(0, 1100000L).select((col("id") * 2).as("a"), (col("id") * 2 + 1).as("b")))),
      "cc_megastar" -> ((s, _) =>
        xscale.DedupClusters.connectedComponents(ccMegastar(s))),
      "cc_megastar_salted" -> ((s, _) =>
        xscale.DedupClusters.connectedComponents(ccMegastar(s), salts = 8)))
    queries.foreach { name =>
      SparkEntry.queries.get(name).orElse(extra.get(name)) match {
        case None => println(s"[smoke] $name UNKNOWN")
        case Some(fn) =>
          val t0 = System.nanoTime()
          // full-plan execution — see Bench for why not df.count()
          val n = fn(spark, dir).queryExecution.toRdd.count()
          println(f"[smoke] $name%-26s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
      }
    }
    spark.stop()
  }
}
