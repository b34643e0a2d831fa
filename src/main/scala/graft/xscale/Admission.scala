package graft.xscale

import java.util.concurrent.{ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** The ADMISSION kernel — x74's decision rule, written once. `Cli admit`
  * (the batch verb) and [[graft.streaming.StreamingAdmit.admit]] (one
  * micro-batch) are its two callers. Each resolves the CORPUS side of the
  * legs its own way (the verb: sidecar read, `--compact` rewrite,
  * bootstrap or live scan; the stream: already-bootstrapped states) and
  * hands the kernel the corpus sig frame and one build per other leg; the
  * kernel runs the builds, folds the statuses and runs the caller's writes
  * and the state appends. The report-checksum parity
  * specs pin the two callers against each other.
  *
  * Leg order: ALL corpus-vs-batch legs (text, emb, media bands,
  * containment) run BEFORE any strict pass. A strict pass elects a
  * survivor per intra-batch cluster, and a corpus leg that ran after it
  * could reject that survivor — leaving the cluster with no admitted
  * representative while its losers stay rejected as near_dup_batch*.
  * With every corpus signal applied first, the strict CCs run over docs
  * that cleared ALL corpus rules, so an elected survivor can only be
  * demoted by a later strict pass — and then only because a cross-signal
  * sibling survives in its place. [[Dedup.restatus]] only demotes
  * still-admitted docs, so within the corpus legs the containment leg
  * follows the band leg: a full near-dup keeps its stronger status.
  *
  * Checkpoints: a frame that two or more queries read is cut once, and a
  * frame that one query reads is not cut. With AQE a query runs its
  * exchanges when it is planned, so an uncut frame with several consumers
  * re-runs its state scans once per consumer. So every leg frame is cut
  * once (it feeds the fold, a strict pass and an append), the text corpus
  * leg's status too (the cut runs its sig-state scans while the other
  * legs build, see Concurrency); under `strict`
  * the corpus-leg status is cut once (the text CC, the emb pass and the
  * final cut all read it, and each would otherwise redo the exact key
  * join, the banded near join and every corpus restatus); and the final
  * status frame is cut once, before any write — its lazy plan reads the
  * state dirs, and an append landing first would make recomputation see
  * the new files. Pass `checkpointDir` in production so the cuts are
  * storage-backed: the default localCheckpoint recomputes on executor
  * loss, which for the status cut would re-read state the appends advance.
  *
  * Concurrency: the kernel overlaps work that shares nothing, and no
  * caller creates threads. [[legs]] cuts the text corpus leg (the sig
  * state's key and band scans) on the caller's thread while the batch side
  * of every other leg builds at once on its own leg thread (the emb leg;
  * the media leg, then the containment leg on the same thread, since it
  * reuses the media leg's batch shingles), and joins them all before
  * [[classify]] folds any status, so the fold order, the strict waterfall
  * and every status are what a serial run gives. [[appendState]] runs the
  * FIRST write alone: it materializes the final status cut before any
  * append can change the state files its lazy plan reads. Every other
  * write before the sig append then runs at once, and the sig append
  * starts only after all of them have succeeded. Leg and write threads
  * carry the caller's Spark local properties (job group, description) and
  * active session, so cancelling the caller's job group cancels their
  * jobs too; a failure surfaces as its own exception only after every
  * sibling has finished, and no kernel thread outlives the call.
  *
  * Write order (crash semantics): the caller's own tables (the verb's
  * report and admitted table, the stream's report and `outPath`) and the
  * emb assign rows, the media bands and the containment shingles all land
  * before the SIG state, which is appended LAST, on its own. The sig
  * append is the write that flips a replayed batch to dup_exact_corpus
  * (admitted set empty), so every write that must still happen on replay
  * has to precede it: a crash anywhere before the sig append replays into
  * duplicated output rows and duplicated value-identical state rows
  * (detectable by doc_id, collapsed by `--compact`). The reverse order is
  * silent LOSS — output rows that never land, or a state permanently
  * missing the batch's rows, so later re-posts of that content are never
  * flagged (fault-injection pinned in `StreamingAdmitSpec` and
  * `AdmissionSpec`). The writes before the sig append are unordered
  * among themselves: each is one a replay repeats. Report, output and
  * state are still separate writes — exactly-once across all of them
  * needs a transactional table format underneath (the lake-swap caveat).
  */
object Admission {

  /** The resolved media leg: the [[PerceptualDedup.admitMediaCompare]]
    * frame plus the two state-layout facts every downstream step must
    * agree on — `wide` (band width, from the state's meta or the corpus
    * count) and `legacy` (a pre-width state without a mod column keeps its
    * original image-only classic contract) — and, when one decode served
    * both video signals, the batch shingles the containment leg reuses.
    */
  final case class MediaLeg(
      frame: DataFrame,
      wide: Boolean,
      legacy: Boolean,
      batchShingles: Option[DataFrame])

  /** The resolved containment leg: the [[PerceptualDedup.admitTrimCompare]]
    * frame, the (space-filtered) batch shingles the strict pass and the
    * state append reuse, and `legacy` — a pre-mod shingle state keeps its
    * original VIDEO-ONLY contract (only vid shingles compare and append;
    * adding a space is a re-bootstrap, the bands-width rule).
    */
  final case class TrimLeg(
      frame: DataFrame,
      batchShingles: DataFrame,
      legacy: Boolean)

  /** One batch's built legs: its dedup signatures (they feed the text
    * leg, the strict pass and the sig append), the text corpus leg's
    * (doc_id, key, status) frame ([[Dedup.incrementalDedupSigs]] against
    * the corpus sigs) and the optional emb, media and containment legs.
    */
  final case class Legs(
      sigs: DataFrame,
      text: DataFrame,
      emb: Option[DataFrame],
      media: Option[MediaLeg],
      trim: Option[TrimLeg])

  /** Build every leg of `batch`, overlapped as documented on this object:
    * the text corpus leg against `corpusSigs` is cut on the caller's
    * thread while the leg builds run on leg threads — `emb` (a frame with
    * `vec_id == doc_id`, from [[Similarity.admitEmbeddingSigs]] or
    * [[Similarity.admitEmbeddingFrame]]; cut here), `media` ([[mediaLeg]])
    * and then `trim` ([[trimLeg]], handed the built media leg). Returns
    * when every build has finished. A build must not write: the callers'
    * bootstraps and state rewrites happen before this call.
    */
  def legs(
      corpusSigs: DataFrame,
      batch: DataFrame,
      emb: Option[() => DataFrame],
      media: Option[() => MediaLeg],
      trim: Option[Option[MediaLeg] => TrimLeg],
      checkpointDir: Option[String]): Legs = {
    def cut(df: DataFrame) = DedupClusters.ckpt(df, checkpointDir)
    // lazy vals are initialized once, under a lock, on whichever thread
    // forces them first; `together` forces each on its own thread
    lazy val sigs = cut(Dedup.dedupSignatures(batch))
    lazy val text = cut(Dedup.incrementalDedupSigs(corpusSigs, sigs))
    lazy val embFrame = emb.map(b => cut(b()))
    lazy val mediaLeg = media.map(_())
    lazy val trimLeg = trim.map(_(mediaLeg))
    together(batch.sparkSession, Seq(() => text) ++
      emb.map(_ => () => embFrame) ++
      (if (media.isDefined || trim.isDefined) Some(() => (mediaLeg, trimLeg)) else None))
    Legs(sigs, text, embFrame, mediaLeg, trimLeg)
  }

  /** The batch side of the media leg against `corpusBands` (cv_id,
    * [mod,] bands): payloads hashed once (real decode, modality-detected;
    * undecodable rows pass unflagged) at the corpus side's width `wide`,
    * so a 4-band batch hash is never compared against an 8-band state. A
    * state without a mod column is `legacy` and hashes images only. With
    * `trimSpaces` set (the containment leg is on) a non-legacy leg decodes
    * ONCE for both video signals — the combined frame carries bands AND
    * the shingles of those spaces (separate passes would each re-run the
    * per-pixel AVI decode, 2x the leg's dominant cost).
    */
  def mediaLeg(
      corpusBands: DataFrame,
      wide: Boolean,
      batchMedia: DataFrame,
      trimSpaces: Option[Seq[String]],
      checkpointDir: Option[String]): MediaLeg = {
    def cut(df: DataFrame) = DedupClusters.ckpt(df, checkpointDir)
    val legacy = !corpusBands.columns.contains("mod")
    val (batchBands, batchShingles) =
      if (legacy)
        (cut(PerceptualDedup.imageHashFrame(batchMedia).filter(col("decoded"))
          .select("doc_id", "bands")), None)
      else trimSpaces match {
        case Some(spaces) =>
          val combined = cut(PerceptualDedup.mediaHashShingleFrame(batchMedia, wide,
            vsp = spaces.contains("vsp"),
            rscales = PerceptualDedup.rescaleScalesOf(spaces)))
          (combined.filter(col("decoded")).select("doc_id", "mod", "bands"),
            Some(cut(PerceptualDedup.shingleRows(combined))))
        case None =>
          (cut(PerceptualDedup.mediaHashFrame(batchMedia, wide).filter(col("decoded"))
            .select("doc_id", "mod", "bands")), None)
      }
    MediaLeg(
      cut(PerceptualDedup.admitMediaCompare(
        corpusBands, batchBands, PerceptualDedup.widthThreshold(wide))),
      wide, legacy, batchShingles)
  }

  /** The batch side of the containment leg against `corpusShingles`
    * (cv_id, [mod,] s1, q1, s2, q2), over the corpus side's shingle
    * `spaces`: the media leg's combined frame supplies the batch shingles
    * when it has them, else one shingle decode. A pre-mod (legacy) state
    * restricts the leg to vid end to end — compare, strict, append — and
    * skips the image tile decode entirely; otherwise only the state's
    * spaces are kept (a space the state lacks would silently never match,
    * and appending it would make recall depend on append history). The
    * rescale spaces are asymmetric (state side scaled, batch side native),
    * so the COMPARE feed swaps the batch's scaled rs rows (kept for the
    * append) for its native img fingerprints re-tagged per active rs space.
    */
  def trimLeg(
      corpusShingles: DataFrame,
      spaces: Seq[String],
      batchMedia: DataFrame,
      media: Option[MediaLeg],
      checkpointDir: Option[String]): TrimLeg = {
    val legacy = !corpusShingles.columns.contains("mod")
    val batchSh0 = media.flatMap(_.batchShingles).getOrElse(
      DedupClusters.ckpt(
        if (legacy)
          PerceptualDedup.videoFrameShingles(batchMedia).withColumn("mod", lit("vid"))
        else PerceptualDedup.mediaShingles(
          batchMedia, vsp = spaces.contains("vsp"),
          rscales = PerceptualDedup.rescaleScalesOf(spaces)), checkpointDir))
    val batchSh =
      if (legacy) batchSh0.filter(col("mod") === "vid")
      else batchSh0.filter(col("mod").isin(spaces: _*))
    val rsActive = PerceptualDedup.RescaleSpaces.filter(sp => spaces.contains(sp.space))
    val batchCompare =
      if (legacy || rsActive.isEmpty) batchSh
      else batchSh.filter(!col("mod").startsWith("rs"))
        .unionByName(rsActive.map(sp =>
          batchSh.filter(col("mod") === "img").withColumn("mod", lit(sp.space)))
          .reduce(_ unionByName _))
    TrimLeg(
      DedupClusters.ckpt(
        PerceptualDedup.admitTrimCompare(corpusShingles, batchCompare), checkpointDir),
      batchSh, legacy)
  }

  /** Classify the batch from its built [[legs]] — the text leg's
    * four-status cascade, then each other corpus leg, then (under
    * `strict`) the text, emb, media and containment intra-batch passes,
    * in the leg order documented on this object. Returns the final
    * (doc_id, key, status) frame, cut once.
    */
  def classify(
      legs: Legs,
      strict: Boolean,
      checkpointDir: Option[String]): DataFrame = {
    def admittedIn(st: DataFrame) = st.filter(col("status") === "admitted")
    // one restatus per modality: startsWith folds the width-suffixed
    // img16/aud16/vid16 small-media rows into their modality's status —
    // the modality table (PerceptualDedup.Modalities) IS the wiring
    def byModality(st: DataFrame, hits: DataFrame, status: PerceptualDedup.Modality => String) =
      PerceptualDedup.Modalities.foldLeft(st) { (s, m) =>
        Dedup.restatus(s, hits.filter(col("mod").startsWith(m.prefix)).select("doc_id"), status(m))
      }
    // one restatus per shingle space (exact mod match; a doc flagged in
    // several spaces takes the first in Modalities order); the rescale
    // spaces fold to ONE status — "resized crop", whatever scale saw it
    def bySpace(st: DataFrame, hits: DataFrame,
        status: PerceptualDedup.ContainSpace => String, rcrop: String) =
      Dedup.restatus(
        PerceptualDedup.ShingleSpaces.foldLeft(st) { (s, cs) =>
          Dedup.restatus(s, hits.filter(col("mod") === cs.space).select("doc_id"), status(cs))
        },
        hits.filter(col("mod").startsWith("rs")).select("doc_id").distinct(), rcrop)

    val st0 = legs.text
    val stEmb = legs.emb.fold(st0)(f => Dedup.restatus(
      st0, f.filter(col("near_emb")).select(col("vec_id").as("doc_id")), "near_dup_corpus_emb"))
    val stMed = legs.media.fold(stEmb)(m =>
      byModality(stEmb, m.frame.filter(col("near_med")), _.corpusStatus))
    val stCorpus = legs.trim.fold(stMed)(t => bySpace(
      stMed, t.frame.filter(col("near_trim")), _.corpusStatus, PerceptualDedup.RcropCorpusStatus))
    val st =
      if (!strict) stCorpus
      else {
        // the strict passes close the leak the corpus legs cannot see: two
        // near-dups arriving TOGETHER both clear them. Each is a CC over
        // the still-admitted docs' already-computed leg rows (zero extra
        // text, embedding or media access); losers re-status near_dup_batch*.
        // Three queries read the corpus-leg status, so it is cut once
        val stC = DedupClusters.ckpt(stCorpus, checkpointDir)
        val stS0 = Dedup.admitStrict(stC, legs.sigs, checkpointDir = checkpointDir)
        val stS1 = legs.emb.fold(stS0) { f =>
          val losers = Similarity.admitEmbStrictLosers(
            f.join(admittedIn(stS0).select(col("doc_id").as("vec_id")), "vec_id")
              .select("vec_id", "cid", "cv", "cn"),
            checkpointDir = checkpointDir)
          Dedup.restatus(stS0, losers.select(col("vec_id").as("doc_id")), "near_dup_batch_emb")
        }
        val stS2 = legs.media.fold(stS1) { m =>
          val losers = PerceptualDedup.admitMediaStrictLosers(
            m.frame.join(admittedIn(stS1).select("doc_id"), "doc_id")
              .select("doc_id", "mod", "bands"),
            maxHamming = PerceptualDedup.widthThreshold(m.wide),
            checkpointDir = checkpointDir,
            nBands = PerceptualDedup.widthBands(m.wide))
          byModality(stS1, losers, _.strictStatus)
        }
        // containment keeps the BEST doc per CC by shingle count (the
        // longer clip / larger image is the source), not the min id
        legs.trim.fold(stS2) { t =>
          val losers = DedupClusters.ckpt(
            PerceptualDedup.admitTrimStrictLosers(
              t.batchShingles.join(admittedIn(stS2).select("doc_id"), "doc_id"),
              checkpointDir = checkpointDir),
            checkpointDir)
          bySpace(stS2, losers, _.strictStatus, PerceptualDedup.RcropStrictStatus)
        }
      }
    DedupClusters.ckpt(st, checkpointDir)
  }

  /** Write the caller's own tables (`writes`, in the caller's order: the
    * report, then the admitted rows) and append the admitted docs' rows to
    * every state the caller keeps, in the order documented on this object:
    * the first write alone (it materializes the status cut), then every
    * other write at once — the rest of `writes`, the emb assign rows
    * (`esigsDir`), the media bands and the containment shingles
    * (`psigsDir`) — and the sig state (`sigsDir`) LAST, once they have all
    * succeeded. Each append conforms to its state's layout — legacy states
    * keep their original columns, since mixed schemas in one parquet dir
    * would read layout-dependent. Centroids never change on append
    * (retraining is a re-bootstrap, x79's add-vs-train rule).
    */
  def appendState(
      admittedIds: DataFrame,
      legs: Legs,
      sigsDir: Option[String],
      esigsDir: Option[String],
      psigsDir: Option[String],
      writes: Seq[() => Unit]): Unit = {
    def append(df: DataFrame, path: String): () => Unit =
      () => df.write.mode(SaveMode.Append).parquet(path)
    val beforeSigs = writes ++
      (for (f <- legs.emb; d <- esigsDir)
        yield append(f.join(admittedIds, col("vec_id") === col("doc_id"))
          .select(col("vec_id").as("cv_id"), col("cid"), col("cv"), col("cn")), s"$d/assign")) ++
      (for (m <- legs.media; d <- psigsDir)
        yield append(m.frame.join(admittedIds, "doc_id").select(
          col("doc_id").as("cv_id") +:
            (if (m.legacy) Seq(col("bands")) else Seq(col("mod"), col("bands"))): _*),
          s"$d/bands")) ++
      (for (t <- legs.trim; d <- psigsDir)
        yield append(t.batchShingles.join(admittedIds, "doc_id").select(
          col("doc_id").as("cv_id") +:
            ((if (t.legacy) Nil else Seq(col("mod"))) ++
              Seq(col("s1"), col("q1"), col("s2"), col("q2"))): _*),
          s"$d/shingles"))
    beforeSigs.headOption.foreach(_())
    together(admittedIds.sparkSession, beforeSigs.drop(1))
    for (d <- sigsDir)
      append(legs.sigs.join(admittedIds, "doc_id"), d)()
  }

  /** Run `thunks` at once and return when every one has finished: the
    * first on the caller's thread, each other on its own `graft-admit-<i>`
    * thread that carries the caller's Spark local properties and active
    * session. When any fails, the first failure (in `thunks` order) is
    * rethrown as itself, after the rest have finished.
    */
  private def together(spark: SparkSession, thunks: Seq[() => Any]): Unit =
    if (thunks.size <= 1) thunks.foreach(_())
    else {
      val n = new AtomicInteger
      val pool = Executors.newFixedThreadPool(thunks.size - 1, (r: Runnable) => {
        val t = new Thread(r, s"graft-admit-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
      try {
        val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val others = thunks.tail.map(t => SQLExecution.withThreadLocalCaptured(session, pool)(Try(t())))
        val first = Try(thunks.head())
        (first +: others.map(f =>
          try f.get() catch { case e: ExecutionException => Failure(e.getCause) }))
          .foreach(_.get)
      } finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }
}
