package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.xscale.{Admission, Dedup, PerceptualDedup, Similarity}

/** Streaming ADMISSION — x74's four-status decision rule (plus the strict
  * intra-batch near-dup refinement) as a continuous ingest path: each
  * micro-batch is classified against the persisted dedup-state sidecar
  * (doc_id, 60-bit exact key, K-minhash sig —
  * [[graft.xscale.Dedup.dedupSignatures]]), admitted docs flow to the
  * output, their signatures append to the state, and the per-batch status
  * report (x74's hash-verified row shape) appends to an audit table.
  *
  * This object and `Cli admit` are two callers of ONE kernel,
  * [[Admission]]: the batch-side leg build, the status fold and the
  * crash-ordered state appends live there, so the state AND the decision
  * rule are byte-identical (spec-pinned by cross-surface parity tests) and
  * a pipeline can admit continuously during the day and reconcile with the
  * batch verb at night ([[graft.xscale.Dedup.compactSignatures]] /
  * [[Similarity.compactEmbAssign]]) without changing currencies. What
  * stays here is what a stream does differently: it reads states that
  * must already be BOOTSTRAPPED (a stream has no corpus to train on or
  * hash — bootstrap with `Cli admit` run 1, or
  * [[Similarity.admitEmbeddingBootstrapAuto]] for the emb state), appends
  * its report under a `batch_id`, and appends admitted rows to `outPath`
  * before the kernel's state appends.
  *
  * The legs, each on when its state path is set:
  *  - EMBEDDING (`esigsPath`, `Cli admit --emb --esigs`'s rule): batch
  *    vectors are assigned to the state's frozen cells
  *    ([[Similarity.admitEmbeddingSigs]] — flat or IMI, the layout
  *    self-describes); a within-cell cosine ≥ τ corpus neighbor flags
  *    `near_dup_corpus_emb`, the strict rewording CC
  *    `near_dup_batch_emb`.
  *  - MEDIA (`psigsPath`, `Cli admit --pmedia --psigs`'s rule): batch
  *    payloads are dHashed at the bands state's width (real decode,
  *    undecodable rows pass unflagged) and banded-compared against it
  *    (`near_dup_corpus_img/_aud/_vid`, strict `near_dup_batch_*`).
  *  - CONTAINMENT (`ptrim` beside the media leg, `Cli admit --ptrim`'s
  *    rule): batch shingles in the shingle state's spaces are
  *    containment-compared against `psigsPath/shingles` — the re-cut,
  *    excerpt or crop whose whole-payload hash differs BY DESIGN, so the
  *    band leg admits it; ≥ 0.8 containment flags the space's corpus
  *    status ([[PerceptualDedup.Modalities]]), the strict keep-best CC its
  *    batch status. A pre-mod shingle state keeps its video-only contract
  *    (widening is a re-bootstrap).
  *
  * Why foreachBatch + explicit parquet state rather than the keyed state
  * store: the near-dup decision is an OR across 4 LSH band buckets per doc
  * (a doc's near-dups land in DIFFERENT buckets), which
  * `[flat]MapGroupsWithState` (one key per row) can't express — the same
  * argument as [[StreamingDedup]], whose simhash state this generalizes to
  * the full admission rule.
  *
  * Scale posture (100 TB): sig state carries ~144 bytes/doc and is only
  * ever read two ways — an 8-byte key projection (exact leg) and a banded
  * sig join (near leg). Nothing broadcasts that join's batch side: every
  * micro-batch hash-shuffles the state's band rows from its file scan (a
  * 5k-row state writes ~51 KB of shuffle per batch), so the near leg's
  * cost grows with the state, not with the batch. Picking the join side
  * from measured sizes is ROADMAP Direction 6; a hint here would also bind
  * `Cli admit`, whose batch can be far larger than the state. Emb state is
  * read as a keyed cell scan with the batch side broadcast; the corpus
  * TEXT and EMBEDDINGS are never touched. State appends are
  * admitted-docs-only.
  *
  * Write order (crash semantics): the report first and alone (the output
  * when there is no report), then `outPath` and the kernel's other state
  * appends at once, and the SIG state LAST, after all of them have
  * succeeded — see [[Admission]] for why a crash in any window replays
  * into duplication, never loss (fault-injection-pinned in the spec), and
  * for what else of one call runs at once.
  */
object StreamingAdmit {

  /** Classify one (micro-)batch against the signature state at `statePath`
    * (and the emb/media/containment states when their paths are set) and
    * return the admitted rows (original columns). Writes the per-status
    * (batch_id, status, n_docs, checksum) report rows (when `reportPath`
    * is set), the admitted rows to `outPath` (when set) and the admitted
    * docs' state rows, in [[Admission.appendState]]'s order. `batchEmb`
    * carries the batch's vectors (vec_id == doc_id, the admit convention);
    * docs without a vector pass the emb leg unflagged. Doc ids must be
    * GLOBALLY UNIQUE across the stream AND disjoint from the state's
    * corpus ids — they key the state, and the crash-window retry
    * exclusions (`cv_id =!= doc_id` in the emb/media compares) rely on a
    * batch doc never legitimately reusing a corpus id; a deployment
    * without disjoint id spaces must key state by a content hash instead.
    */
  def admit(
      spark: SparkSession,
      batch: DataFrame,
      statePath: String,
      strict: Boolean = true,
      reportPath: Option[String] = None,
      batchId: Long = 0L,
      esigsPath: Option[String] = None,
      batchEmb: Option[DataFrame] = None,
      outPath: Option[String] = None,
      psigsPath: Option[String] = None,
      batchMedia: Option[DataFrame] = None,
      ptrim: Boolean = false): DataFrame = {
    val sPath = new org.apache.hadoop.fs.Path(statePath)
    val fs = sPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The ptrim contract check runs BEFORE the shingle-state read below:
    // a misconfigured call must fail with the named message, not with a
    // path-missing read error pointing at state corruption (the batch verb
    // rejects --ptrim without --pmedia the same way).
    require(!ptrim || (psigsPath.isDefined && batchMedia.isDefined),
      "ptrim = true requires psigsPath and batchMedia — without them every " +
        "re-cut video would be admitted unflagged (silent zero recall)")
    val embBuild = for (d <- esigsPath; be <- batchEmb)
      yield () => Similarity.admitEmbeddingSigs(spark, d, be)
    // the shingle state's SPACES govern which containment spaces the batch
    // decodes, compares and appends — meta-first (geometry validated, loud
    // failure on mismatch), layout fallback for meta-less states
    val stateShingles = if (!ptrim) None else psigsPath.map(d => spark.read.parquet(s"$d/shingles"))
    val trimSpaces: Option[Seq[String]] =
      for (d <- psigsPath; sh <- stateShingles)
        yield PerceptualDedup.stateShingleSpaces(spark, s"$d/shmeta", sh)
    val mediaBuild = for (d <- psigsPath; bm <- batchMedia) yield () => {
      val stateBands = spark.read.parquet(s"$d/bands")
      Admission.mediaLeg(stateBands, PerceptualDedup.stateWide(spark, s"$d/meta", stateBands),
        bm, trimSpaces)
    }
    val trimBuild = for (spaces <- trimSpaces; sh <- stateShingles; bm <- batchMedia)
      yield (media: Option[Admission.MediaLeg]) =>
        Admission.trimLeg(sh, spaces, bm, media)
    // the state's own schema (the batch sigs'): no footer-inference job
    val stateSigs = Dedup.dedupSignatures(batch)
    val legs = Admission.legs(
      if (fs.exists(sPath)) spark.read.schema(stateSigs.schema).parquet(statePath)
      else stateSigs.limit(0),
      batch, embBuild, mediaBuild, trimBuild, strict)
    val st = Admission.classify(legs)
    val admittedIds = st.filter(col("status") === "admitted").select("doc_id")
    val admitted = batch.join(admittedIds, "doc_id")
    val report = reportPath.map(p => () =>
      st.groupBy("status")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(key)").as("checksum"))
        .withColumn("batch_id", lit(batchId))
        .select("batch_id", "status", "n_docs", "checksum")
        .write.mode(SaveMode.Append).parquet(p))
    val output = outPath.map(p => () => admitted.write.mode(SaveMode.Append).parquet(p))
    Admission.appendState(admittedIds, legs, Some(statePath), esigsPath, psigsPath,
      (report ++ output).toSeq)
    admitted
  }

  /** Continuous form: admit every micro-batch of a streaming `docs` source,
    * appending admitted rows to `outPath` (and per-batch reports beside the
    * state when `reportPath` is set). When `esigsPath` is set the docs
    * stream must carry an `embedding` column (array of float/double; null
    * for vectorless docs) — the emb leg reads it as the batch vectors.
    * When `psigsPath` is set it must carry a `payload` binary column
    * (null for media-less docs) — the media leg hashes it. The stage
    * cuts follow the context's checkpoint dir like every other
    * [[graft.xscale.DedupClusters.ckpt]]: set it on the context for the
    * query's lifetime for reliable cuts.
    */
  def stream(
      docs: DataFrame,
      statePath: String,
      outPath: String,
      checkpointDir: String,
      strict: Boolean = true,
      reportPath: Option[String] = None,
      esigsPath: Option[String] = None,
      psigsPath: Option[String] = None,
      ptrim: Boolean = false): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val bEmb = esigsPath.map(_ =>
          b.filter(col("embedding").isNotNull)
            .select(col("doc_id").as("vec_id"), col("embedding")))
        val bMedia = psigsPath.map(_ =>
          b.filter(col("payload").isNotNull).select("doc_id", "payload"))
        val bDocs = Seq(
          esigsPath.map(_ => "embedding"), psigsPath.map(_ => "payload"))
          .flatten.foldLeft(b)(_ drop _)
        admit(b.sparkSession, bDocs, statePath, strict, reportPath, id,
          esigsPath, bEmb, Some(outPath), psigsPath, bMedia, ptrim)
        ()
      }
      .start()
}
