package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row => SRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.source.Synthetic
import graft.streaming.StreamingAdmit
import graft.xscale.{Dedup, Similarity}

/** `admit_stream`: the north-star dedup as a user runs it each day. Set-up
  * bootstraps the text signature state and the embedding state over a
  * power-law corpus; the timed part is a sequence of strict
  * `StreamingAdmit.admit` micro-batches carrying seeded shares of exact
  * re-arrivals, near variants, negated vectors and fresh docs, and the run
  * ends with the nightly reconcile of both states against the live ids
  * (`Dedup.compactSignatures`, `Similarity.compactEmbAssign`). The xscale
  * and streaming layers do the work; the lake does none.
  */
object AdmitStream {
  val CorpusDocs = 5000L
  val BatchDocs = 300
  val WarmDocs = 150
  val Reconciles = 3
  val SetupRepeats = 3
  val Dim = 64

  /** Per-batch composition: exact re-arrivals, near variants (one
    * appended token, a slightly moved vector), fresh texts carrying a
    * negated corpus vector, and fresh docs, a quarter each. Nothing in the
    * repository measures how often each kind arrives, so each gets equal
    * weight. Fresh docs carry no vector: with the emb leg's cosine
    * threshold of 0.45, a random 64-d vector has a corpus neighbour in its
    * cell often enough that "fresh" would not be a status the generator can
    * promise; docs without a vector pass the emb leg unflagged.
    */
  val Exact = 0.25
  val Near = 0.25
  val Negated = 0.25

  final case class Doc(id: Long, text: String, emb: Option[Array[Float]])
  final case class Batch(id: Long, exact: Seq[Doc], near: Seq[Doc], negated: Seq[Doc], fresh: Seq[Doc]) {
    def all: Seq[Doc] = exact ++ near ++ negated ++ fresh
  }

  /** `offset` is where the stream's doc ids start. The corpus keeps the
    * generators' ids from 0: the embedding bootstrap seeds its k-means with
    * the vectors whose ids are below the cell count, so a corpus offset
    * away from 0 would bootstrap an empty state.
    */
  final case class State(dir: Path, offset: Long, corpusDocs: Long) {
    val sigs: String = dir.resolve("sigs").toString
    val esigs: String = dir.resolve("esigs").toString
    val out: String = dir.resolve("out").toString
    val report: String = dir.resolve("report").toString
    /** Row counts of the signature state, the emb assign table and the
      * output, as of the last check.
      */
    var rows: (Long, Long, Long) = (0L, 0L, 0L)
  }

  private def corpus(ctx: Ctx, st: State): (DataFrame, DataFrame) = {
    val docs = Synthetic.powerlawDocs(ctx.spark, st.corpusDocs).select("doc_id", "text", "source")
    val emb = Synthetic.powerlawEmbeddings(ctx.spark, st.corpusDocs, Dim)
    (docs, emb)
  }

  /** Bootstraps both admission states, each in its own span. */
  def bootstrap(ctx: Ctx, st: State): Unit = {
    import ctx._
    val (docs, emb) = corpus(ctx, st)
    tr.span("xscale.sig_bootstrap") { _ =>
      Dedup.dedupSignatures(docs).write.parquet(st.sigs)
    }
    tr.span("xscale.emb_bootstrap") { _ =>
      Similarity.admitEmbeddingBootstrapAuto(emb, st.esigs, trainSample = 0.1)
    }
  }

  /** Seeded batches of the given sizes, with batch ids 0, 1, ... Exact,
    * near and negated docs copy distinct sampled corpus docs; the seed also
    * picks the stream id offset and the fresh words and vectors.
    */
  def batches(ctx: Ctx, st: State, sizes: Seq[Int], rnd: Random): IndexedSeq[Batch] = {
    // (exact, near, negated, fresh) doc counts of each batch
    val shares = sizes.map { size =>
      val (e, n, g) = ((size * Exact).toInt, (size * Near).toInt, (size * Negated).toInt)
      (e, n, g, size - e - n - g)
    }
    val picks = rnd.shuffle((0L until st.corpusDocs).toVector).take(shares.map(c => c._1 + c._2 + c._3).sum)
    val (docs, emb) = corpus(ctx, st)
    val text = docs.filter(col("doc_id").isin(picks: _*)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vec = emb.filter(col("vec_id").isin(picks: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    var next = st.offset
    def id(): Long = { next += 1; next }
    def freshText(): String =
      (1 to 30 + rnd.nextInt(120)).map(_ => s"f${rnd.nextInt(1000000)}").mkString(" ")
    var used = 0
    shares.zipWithIndex.map { case ((nExact, nNear, nNeg, nFresh), b) =>
      val p = picks.slice(used, used + nExact + nNear + nNeg)
      used += p.size
      val (pe, rest) = p.splitAt(nExact)
      val (pn, pneg) = rest.splitAt(nNear)
      Batch(b.toLong,
        pe.map(c => Doc(id(), text(c), Some(vec(c)))),
        pn.map(c => Doc(id(), s"${text(c)} zq${rnd.nextInt(100000)}",
          Some(vec(c).map(_ + (rnd.nextFloat() - 0.5f) * 0.002f)))),
        pneg.map(c => Doc(id(), freshText(), Some(vec(c).map(-_)))),
        (1 to nFresh).map(_ => Doc(id(), freshText(), None)))
    }.toIndexedSeq
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("source", StringType)))
  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  def run(ctx: Ctx): Unit = {
    import ctx._
    val offset = (1L + math.abs(seed % 1000L)) * 1000000000L
    // the stream's batches, led by a small warm-up batch; a batch has
    // never taken under a second, so one per second of window is plenty
    val n = math.ceil(seconds).toInt
    val seq = ctx.setup(SetupRepeats) { _ =>
      batches(ctx, State(work, offset, CorpusDocs), WarmDocs +: Seq.fill(n)(BatchDocs), new Random(seed))
    }
    ctx.days((tag, record, limit) => ((), day(ctx, offset, seq, tag, record, limit)))
  }

  /** Bootstrap, admit one warm-up batch, then batches while the next one
    * is expected (from the last one's wall) to end inside the window, and
    * at least one (or exactly up to `limit`); reconcile. A batch takes
    * longer than the default window (7-9 s on 4 cores), so a run at that
    * window admits one timed batch unless the program gets several times
    * faster. Returns the index after the last batch admitted.
    */
  private def day(ctx: Ctx, offset: Long, seq: IndexedSeq[Batch], tag: String, record: Boolean,
      limit: Option[Int]): Int = {
    val st = State(ctx.fresh(tag), offset, CorpusDocs)
    val (_, wall) = ctx.rec.op(bootstrap(ctx, st))
    if (record) ctx.rec.add("load_s", wall)
    st.rows = (rowCount(ctx, st.sigs), rowCount(ctx, s"${st.esigs}/assign"), 0L)
    ctx.rec.check(st.rows._1 == st.corpusDocs && st.rows._2 == st.corpusDocs,
      s"bootstrap gave ${st.rows} signature and cell rows for ${st.corpusDocs} corpus docs")
    ctx.mark(s"$tag.load")
    ctx.tr.span("admit.warm")(_ => admitBatch(ctx, st, seq(0), record = false))
    ctx.mark(s"$tag.warm")
    val seconds = if (ctx.tr.enabled) ctx.seconds / 2 else ctx.seconds
    val start = System.nanoTime()
    var last = 0L
    var i = 1
    def nextFits = System.nanoTime() - start + last <= (seconds * 1e9).toLong
    while (i < seq.size && limit.fold(i == 1 || nextFits)(i < _)) {
      val t0 = System.nanoTime()
      admitBatch(ctx, st, seq(i), record)
      last = System.nanoTime() - t0
      i += 1
    }
    ctx.mark(s"$tag.ops")
    reconcile(ctx, st, record)
    ctx.mark(s"$tag.maint")
    i
  }

  /** Row count and distinct `id` count of a parquet table, in one job. */
  private def rowsAndIds(ctx: Ctx, path: String, id: String): (Long, Long) = {
    val r = ctx.spark.read.parquet(path).agg(count(lit(1)), countDistinct(col(id))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def rowCount(ctx: Ctx, path: String): Long =
    if (new java.io.File(path).exists()) ctx.spark.read.parquet(path).count() else 0L

  def admitBatch(ctx: Ctx, st: State, b: Batch, record: Boolean): Unit = {
    import ctx._
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(b.all.map(d => SRow(d.id, d.text, "stream")): _*), docSchema)
    val embs = spark.createDataFrame(
      java.util.Arrays.asList(b.all.flatMap(d => d.emb.map(e => SRow(d.id, e.toSeq))): _*), embSchema)
    val (_, wall) = rec.op {
      tr.span("admit.batch") { s =>
        s.attr("docs", b.all.size.toDouble)
        StreamingAdmit.admit(spark, docs, st.sigs, strict = true, reportPath = Some(st.report),
          batchId = b.id, esigsPath = Some(st.esigs), batchEmb = Some(embs), outPath = Some(st.out))
      }
    }
    if (record) rec.add("op_ms", wall * 1000.0)
    val report = spark.read.parquet(st.report).filter(col("batch_id") === b.id)
      .select("status", "n_docs").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val admitted = spark.read.parquet(st.out)
      .filter(col("doc_id").isin(b.all.map(_.id): _*)).select("doc_id").collect().map(_.getLong(0)).toSet
    val n = admitted.size.toLong
    rec.check(report.getOrElse("dup_exact_corpus", 0L) == b.exact.size,
      s"batch ${b.id}: ${report.getOrElse("dup_exact_corpus", 0L)} dup_exact_corpus, ${b.exact.size} exact re-arrivals")
    rec.check(b.fresh.forall(d => admitted(d.id)),
      s"batch ${b.id}: ${b.fresh.count(d => !admitted(d.id))} fresh docs not admitted; report $report")
    rec.check(b.exact.forall(d => !admitted(d.id)), s"batch ${b.id}: an exact re-arrival was admitted")
    rec.check(report.getOrElse("admitted", 0L) == n, s"batch ${b.id}: report admitted ${report.get("admitted")}, output $n")
    rec.check(report.values.sum == b.all.size, s"batch ${b.id}: report covers ${report.values.sum} docs")
    val before = st.rows
    st.rows = (rowCount(ctx, st.sigs), rowCount(ctx, s"${st.esigs}/assign"), rowCount(ctx, st.out))
    rec.check(st.rows._1 - before._1 == n, s"batch ${b.id}: signature state grew by ${st.rows._1 - before._1}, admitted $n")
    val withVec = b.all.count(d => d.emb.isDefined && admitted(d.id))
    rec.check(st.rows._2 - before._2 == withVec,
      s"batch ${b.id}: emb state grew by ${st.rows._2 - before._2}, $withVec admitted docs carry a vector")
    rec.check(st.rows._3 - before._3 == n, s"batch ${b.id}: output grew by ${st.rows._3 - before._3}, admitted $n")
    Main.releaseState(spark)
  }

  /** The nightly reconcile: both states keep only live ids (the corpus
    * minus a seeded 1% re-filtered away, plus everything admitted). It is
    * one short pass of a few jobs, so it is timed `Reconciles` times and the
    * median is kept. Each pass reconciles its own copy of the states, so
    * every pass drops the same ids and writes the same rows.
    */
  def reconcile(ctx: Ctx, st: State, record: Boolean): Unit = {
    import ctx._
    val live = corpus(ctx, st)._1.select("doc_id")
      .filter(col("doc_id") % 97 =!= (st.offset / 1000000000L) % 97)
      .unionByName(spark.read.parquet(st.out).select("doc_id"))
    val wantSigs = spark.read.parquet(st.sigs).join(live, Seq("doc_id"), "left_semi")
      .select("doc_id").distinct().count()
    val wantAssign = spark.read.parquet(s"${st.esigs}/assign")
      .join(live.select(col("doc_id").as("cv_id")), Seq("cv_id"), "left_semi")
      .select("cv_id").distinct().count()
    (1 to Reconciles).foreach { k =>
      val dir = st.dir.resolve(s"reconcile-$k")
      val (sigs, assign) = (dir.resolve("sigs"), dir.resolve("assign"))
      Fs.copy(Path.of(st.sigs), sigs)
      Fs.copy(Path.of(st.esigs, "assign"), assign)
      val (sigsOut, assignOut) = (dir.resolve("sigs.out").toString, dir.resolve("assign.out").toString)
      val (_, wall) = rec.op {
        tr.span("admit.reconcile") { _ =>
          Dedup.compactSignatures(spark.read.parquet(sigs.toString), live).write.parquet(sigsOut)
          Similarity.compactEmbAssign(spark.read.parquet(assign.toString),
            live.select(col("doc_id").as("vec_id"))).write.parquet(assignOut)
        }
      }
      if (record) rec.add("maint_s", wall)
      rec.check(rowsAndIds(ctx, sigsOut, "doc_id") == (wantSigs, wantSigs),
        s"reconciled signature state does not hold exactly the $wantSigs live ids")
      rec.check(rowsAndIds(ctx, assignOut, "cv_id") == (wantAssign, wantAssign),
        s"reconciled emb state does not hold exactly the $wantAssign live ids")
    }
  }
}
