package graft.xscale

import java.util.concurrent.{ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Try}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.Sessions.withCallSite

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
  * The strict passes' edge lists are built WITH the legs, not after them.
  * A strict edge qualifies on its two docs alone (two sigs, two vectors,
  * two band rows, two shingle sets), and a pass only ever demotes
  * admitted docs. So the edges among the docs still admitted at a pass's
  * turn are exactly the whole batch's edges with both ends in that set:
  * [[legs]] builds each list over the whole batch, and [[classify]] runs
  * each pass as restrict-then-CC over small id sets, in the order above.
  *
  * Checkpoints: a frame that two or more queries read is cut once, and a
  * frame that one query reads is not cut. With AQE a query runs its
  * exchanges when it is planned, so an uncut frame with several consumers
  * re-runs its state scans once per consumer. So every leg frame is cut
  * once (it feeds the fold, a strict edge list and an append), the text
  * corpus leg's status too (the cut runs its sig-state scans while the
  * other legs build, see Concurrency), and every strict edge list; under
  * `strict` the corpus-leg status is cut once (the first pass's doc set
  * and the final restatus both read it, and each would otherwise redo the
  * exact key join, the banded near join and every corpus restatus), and
  * so is each pass's demoted set (the next pass's doc set and the final
  * restatus read it); and the final
  * status frame is cut once, before any write — its lazy plan reads the
  * state dirs, and an append landing first would make recomputation see
  * the new files. In production run under a checkpoint dir
  * ([[graft.Sessions.withCheckpointDir]], i.e. `Cli admit --ckpt <dir>`)
  * so the cuts are storage-backed: the default localCheckpoint recomputes
  * on executor loss, which for the status cut would re-read state the
  * appends advance.
  *
  * Concurrency: the kernel overlaps work that shares nothing, and no
  * caller creates threads. [[legs]] cuts the text corpus leg (the sig
  * state's key and band scans) on the caller's thread while the batch side
  * of every other leg builds at once on its own leg thread: under `strict`
  * the text edges from the cut batch sigs; the emb leg, then its edges;
  * the media leg, its edges, then the containment leg and its edges on
  * the same thread, since it reuses the media leg's batch shingles. No
  * edge list depends on a corpus leg, so none waits for one. [[legs]]
  * joins them all before [[classify]] folds any status; the waterfall
  * then restricts each pass's edges to the docs still admitted, so the
  * fold order, the strict waterfall and every status are what a serial
  * run over the admitted docs' leg rows gives. [[appendState]] runs the
  * FIRST write alone: it materializes the final status cut before any
  * append can change the state files its lazy plan reads. Every other
  * write before the sig append then runs at once, and the sig append
  * starts only after all of them have succeeded. Leg and write threads
  * carry the caller's Spark local properties (job group, description) and
  * active session, so cancelling the caller's job group cancels their
  * jobs too; a failure surfaces as its own exception only after every
  * sibling has finished, and no kernel thread outlives the call. Every
  * job of [[legs]], [[classify]] and [[appendState]] is named after its
  * step (`Admission.legs`, ...) in listeners and the Spark UI; Spark's
  * exchange and result-stage threads would otherwise name it
  * `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768`.
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
    * leg, the text strict edges and the sig append), the text corpus leg's
    * (doc_id, key, status) frame ([[Dedup.incrementalDedupSigs]] against
    * the corpus sigs), the optional emb, media and containment legs, and —
    * under `strict` — each strict pass's edge list over the WHOLE batch:
    * `textEdges` ([[Dedup.admitStrictEdges]] of `sigs`), `embEdges`
    * ([[Similarity.admitEmbStrictEdges]] of `emb`), `mediaEdges`
    * ([[PerceptualDedup.admitMediaStrictEdges]] of the media leg's bands)
    * and `trimEdges` ([[PerceptualDedup.admitTrimStrictEdges]] of the
    * containment leg's batch shingles), each cut and materialized. An edge
    * list is None when its leg is off, the batch is not strict, or the
    * list is empty (the pass then demotes nobody). `edgesAtMost` is the
    * most rows any of them holds (0 when none): it bounds every list a
    * strict pass restricts them to, so [[classify]] knows which CC path
    * each pass takes without counting.
    */
  final case class Legs(
      sigs: DataFrame,
      text: DataFrame,
      emb: Option[DataFrame],
      media: Option[MediaLeg],
      trim: Option[TrimLeg],
      textEdges: Option[DataFrame],
      embEdges: Option[DataFrame],
      mediaEdges: Option[DataFrame],
      trimEdges: Option[PerceptualDedup.TrimStrictEdges],
      edgesAtMost: Long)

  /** Build every leg of `batch`, overlapped as documented on this object:
    * the text corpus leg against `corpusSigs` is cut on the caller's
    * thread while the leg builds run on leg threads — under `strict` the
    * text edges; `emb` (a frame with `vec_id == doc_id`, from
    * [[Similarity.admitEmbeddingSigs]] or
    * [[Similarity.admitEmbeddingFrame]]; cut here), then its edges;
    * `media` ([[mediaLeg]]), its edges, then `trim` ([[trimLeg]], handed
    * the built media leg) and its edges. Returns when
    * every build has finished. A build must not write: the callers'
    * bootstraps and state rewrites happen before this call.
    */
  def legs(
      corpusSigs: DataFrame,
      batch: DataFrame,
      emb: Option[() => DataFrame],
      media: Option[() => MediaLeg],
      trim: Option[Option[MediaLeg] => TrimLeg],
      strict: Boolean): Legs = withCallSite(batch.sparkSession, "Admission.legs") {
    def cut(df: DataFrame) = DedupClusters.ckpt(df)
    // a strict pass's edge list, cut and counted on the leg thread that
    // builds it; an empty list is dropped
    def edges(df: DataFrame): Option[(DataFrame, Long)] =
      if (!strict) None else { val e = cut(df); Some(e -> e.count()).filter(_._2 > 0) }
    // lazy vals are initialized once, under a lock, on whichever thread
    // forces them first; `together` forces each on its own thread
    lazy val sigs = cut(Dedup.dedupSignatures(batch))
    lazy val text = cut(Dedup.incrementalDedupSigs(corpusSigs, sigs))
    lazy val textEdges = edges(Dedup.admitStrictEdges(sigs))
    lazy val embFrame = emb.map(b => cut(b()))
    lazy val embEdges = embFrame.flatMap(f => edges(Similarity.admitEmbStrictEdges(f)))
    lazy val mediaLeg = media.map(_())
    lazy val mediaEdges = mediaLeg.flatMap(m => edges(PerceptualDedup.admitMediaStrictEdges(
      m.frame.select("doc_id", "mod", "bands"),
      PerceptualDedup.widthThreshold(m.wide), PerceptualDedup.widthBands(m.wide))))
    lazy val trimLeg = trim.map(_(mediaLeg))
    lazy val trimEdges = trimLeg.flatMap { t =>
      val e = PerceptualDedup.admitTrimStrictEdges(t.batchShingles)
      edges(e.links).map { case (links, n) =>
        val sizes = cut(e.sizes)
        sizes.count()
        (PerceptualDedup.TrimStrictEdges(links, sizes), n)
      }
    }
    together(batch.sparkSession, Seq(() => text) ++
      (if (strict) Some(() => textEdges) else None) ++
      emb.map(_ => () => embEdges) ++
      (if (media.isDefined || trim.isDefined) Some(() => (mediaEdges, trimEdges)) else None))
    Legs(sigs, text, embFrame, mediaLeg, trimLeg, textEdges.map(_._1), embEdges.map(_._1),
      mediaEdges.map(_._1), trimEdges.map(_._1),
      Seq(textEdges, embEdges, mediaEdges, trimEdges).flatMap(_.map(_._2)).maxOption.getOrElse(0L))
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
      trimSpaces: Option[Seq[String]]): MediaLeg = {
    def cut(df: DataFrame) = DedupClusters.ckpt(df)
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
      media: Option[MediaLeg]): TrimLeg = {
    val legacy = !corpusShingles.columns.contains("mod")
    val batchSh0 = media.flatMap(_.batchShingles).getOrElse(
      DedupClusters.ckpt(
        if (legacy)
          PerceptualDedup.videoFrameShingles(batchMedia).withColumn("mod", lit("vid"))
        else PerceptualDedup.mediaShingles(
          batchMedia, vsp = spaces.contains("vsp"),
          rscales = PerceptualDedup.rescaleScalesOf(spaces))))
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
        PerceptualDedup.admitTrimCompare(corpusShingles, batchCompare)),
      batchSh, legacy)
  }

  /** Classify the batch from its built [[legs]] — the text leg's
    * four-status cascade, then each other corpus leg, then (when the legs
    * were built `strict`) the text, emb, media and containment intra-batch
    * passes, in the leg order documented on this object. Returns the final
    * (doc_id, key, status) frame, cut once.
    */
  def classify(legs: Legs): DataFrame = withCallSite(
      legs.sigs.sparkSession, "Admission.classify") {
    def cut(df: DataFrame) = DedupClusters.ckpt(df)
    // (doc_id, status) for each doc with a `hits` row matching a rule,
    // the status of the first rule it matches: the fold of one restatus
    // per rule, in rule order, over the docs `hits` names
    def firstStatus(hits: DataFrame, rules: Seq[(Column, String)]): DataFrame = {
      val rank = rules.zipWithIndex.tail.foldLeft(when(rules.head._1, 0)) {
        case (c, ((p, _), i)) => c.when(p, i)
      }
      hits.select(col("doc_id"), rank.as("_r")).filter(col("_r").isNotNull)
        .groupBy("doc_id").agg(min("_r").as("_r"))
        .select(col("doc_id"), element_at(typedLit(rules.map(_._2)), col("_r") + 1).as("status"))
    }
    // one rule per modality: startsWith folds the width-suffixed
    // img16/aud16/vid16 small-media rows into their modality's status —
    // the modality table (PerceptualDedup.Modalities) IS the wiring
    def byModality(status: PerceptualDedup.Modality => String) =
      PerceptualDedup.Modalities.map(m => col("mod").startsWith(m.prefix) -> status(m))
    // one rule per shingle space (exact mod match; a doc flagged in
    // several spaces takes the first in Modalities order); the rescale
    // spaces fold to ONE status — "resized crop", whatever scale saw it
    def bySpace(status: PerceptualDedup.ContainSpace => String, rcrop: String) =
      PerceptualDedup.ShingleSpaces.map(cs => (col("mod") === cs.space) -> status(cs)) :+
        (col("mod").startsWith("rs") -> rcrop)
    def as(status: String)(ids: DataFrame) = ids.withColumn("status", lit(status))

    val stCorpus = Seq(
      legs.emb.map(f => as("near_dup_corpus_emb")(
        f.filter(col("near_emb")).select(col("vec_id").as("doc_id")).distinct())),
      legs.media.map(m =>
        firstStatus(m.frame.filter(col("near_med")), byModality(_.corpusStatus))),
      legs.trim.map(t => firstStatus(t.frame.filter(col("near_trim")),
        bySpace(_.corpusStatus, PerceptualDedup.RcropCorpusStatus)))
    ).flatten.foldLeft(legs.text)(Dedup.restatus)
    // the strict passes close the leak the corpus legs cannot see: two
    // near-dups arriving TOGETHER both clear them. Each pass maps the docs
    // still admitted at its turn to the ones it demotes (doc_id, status):
    // a CC over its batch edges restricted to those docs — a strict pass
    // only demotes admitted docs, and an edge qualifies on its two docs
    // alone, so these are exactly the edges a CC over the still-admitted
    // docs' leg rows would find. Doc sets are batch-bounded, so broadcast
    // (one broadcast serves both ends). A restricted list has at most the
    // rows of its whole list, so `cc` takes the one-task CC path without a
    // count job whenever the largest list fits one task
    val cc = DedupClusters.componentsAtMost(legs.edgesAtMost)
    def among(edges: DataFrame, docs: DataFrame) = {
      val d = broadcast(docs)
      edges.join(d, col("a") === col("doc_id"), "left_semi")
        .join(d, col("b") === col("doc_id"), "left_semi")
    }
    val passes: Seq[DataFrame => DataFrame] = Seq(
      legs.textEdges.map(e => (docs: DataFrame) =>
        as("near_dup_batch")(DedupClusters.minIdLosersBy(among(e, docs), cc))),
      legs.embEdges.map(e => (docs: DataFrame) =>
        as("near_dup_batch_emb")(DedupClusters.minIdLosersBy(among(e, docs), cc))),
      for (e <- legs.mediaEdges; m <- legs.media) yield (docs: DataFrame) =>
        firstStatus(
          PerceptualDedup.admitMediaStrictLosersBy(among(e, docs), m.frame, cc),
          byModality(_.strictStatus)),
      // containment keeps the BEST doc per CC by shingle count (the
      // longer clip / larger image is the source), not the min id
      legs.trimEdges.map(e => (docs: DataFrame) =>
        firstStatus(PerceptualDedup.admitTrimStrictLosersBy(e.copy(links = among(e.links, docs)),
          cc), bySpace(_.strictStatus, PerceptualDedup.RcropStrictStatus)))
    ).flatten
    if (passes.isEmpty) cut(stCorpus)
    else {
      // the passes and the final restatus read the corpus-leg status
      val stC = cut(stCorpus)
      val (demoted, _) = passes.foldLeft(
        (Seq.empty[DataFrame], stC.filter(col("status") === "admitted").select("doc_id"))) {
        case ((out, docs), pass) =>
          val d = cut(pass(docs))
          (out :+ d, docs.join(broadcast(d), Seq("doc_id"), "left_anti"))
      }
      // the passes' doc sets are disjoint, so one restatus applies them
      cut(Dedup.restatus(stC, demoted.reduce(_ unionByName _)))
    }
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
      writes: Seq[() => Unit]): Unit = withCallSite(admittedIds.sparkSession, "Admission.appendState") {
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
