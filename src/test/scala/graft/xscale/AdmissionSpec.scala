package graft.xscale

import scala.collection.concurrent.TrieMap
import scala.util.Try

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.streaming.StreamingAdmit

/** Admission-state guards: a bootstrap that cannot seed its quantizer
  * must fail by name instead of writing an empty emb state that every
  * later batch passes unflagged. And the kernel's overlap: states read
  * with the schema they were written with, leg and write threads that
  * carry the caller's job group and never outlive the call, and a failed
  * leg or write that surfaces as itself with the sig state untouched.
  */
class AdmissionSpec extends SparkSpec {
  import spark.implicits._

  private val novel1 = "the estuary gauge recorded eleven spring tides before the survey"
  private val novel2 = "a ledger of replacement lamp wicks issued to the canal keepers"
  private val novel3 = "winter fodder allocations for the upland grazing commons by parish"

  /** A sig state over 300 synthetic docs and an emb state of `flavor`
    * ("flat" or "imi") over 100 corpus vectors, under `base`.
    */
  private final class States(val base: java.io.File, val flavor: String) {
    val sigs: String = new java.io.File(base, "sigs").getPath
    val esigs: String = new java.io.File(base, "esigs").getPath
    val corpus: DataFrame =
      graft.source.Synthetic.powerlawDocs(spark, 300L).select("doc_id", "text", "source")
    val corpusEmb: DataFrame = {
      val rnd = new scala.util.Random(7)
      (0L until 100L).map(i => (i, Array.fill(64)(rnd.nextFloat() - 0.5f)))
        .toDF("vec_id", "embedding")
    }
    Dedup.dedupSignatures(corpus).write.parquet(sigs)
    if (flavor == "flat") Similarity.admitEmbeddingBootstrap(corpusEmb, esigs, trainSample = 0.1)
    else Similarity.admitEmbeddingBootstrapImi(corpusEmb, esigs)

    /** Exact re-arrivals of four state docs, an intra-batch near pair
      * (5000001 survives), 5000003 sharing 5000001's vector (an emb pair,
      * 5000001 survives) and a fresh doc: admits 5000001 and 5000004.
      */
    val batch: DataFrame = {
      val texts = corpus.filter(col("doc_id") < 4).select("text").as[String].collect()
      (texts.zipWithIndex.map { case (t, i) => (5000010L + i, t, "s") } ++ Seq(
        (5000001L, novel1, "s"), (5000002L, novel1 + " zq", "s"),
        (5000003L, novel2, "s"), (5000004L, novel3, "s"))).toSeq.toDF("doc_id", "text", "source")
    }
    val batchEmb: DataFrame = corpusEmb.filter(col("vec_id") === 3L)
      .select(expr("transform(embedding, x -> -x)").as("embedding"))
      .crossJoin(Seq(5000001L, 5000003L).toDF("vec_id"))
      .select("vec_id", "embedding")
    val admits: Set[Long] = Set(5000001L, 5000004L)

    def admit(outPath: Option[String] = None, reportPath: Option[String] = None): Set[Long] =
      StreamingAdmit.admit(spark, batch, sigs, strict = true, reportPath = reportPath,
        esigsPath = Some(esigs), batchEmb = Some(batchEmb), outPath = outPath)
        .select("doc_id").as[Long].collect().toSet

    /** Each state table with the schema the admission path reads it with. */
    def tables: Seq[(String, org.apache.spark.sql.types.StructType)] =
      Seq(sigs -> Dedup.dedupSignatures(batch).schema,
        s"$esigs/assign" -> Similarity.embAssignSchema(LongType)) ++
        (if (flavor == "flat") Seq(s"$esigs/centroids" -> Similarity.EmbCentroidsSchema)
         else Seq(s"$esigs/meta" -> Similarity.EmbMetaSchema,
           s"$esigs/halves" -> Similarity.EmbHalvesSchema))
  }

  /** One job the call started: its job group, whether it ran inside a SQL
    * execution, and when it ended (None: it had not ended when the
    * listener bus drained).
    */
  private final case class Job(group: Option[String], inSql: Boolean, end: Option[Long])

  /** Run `body` under a job listener. Returns its outcome, the wall-clock
    * time it returned at, and every job it started.
    */
  private def jobsOf[T](body: => T): (Try[T], Long, Seq[Job]) = {
    val sc = spark.sparkContext
    val starts = TrieMap.empty[Int, (Option[String], Boolean)]
    val ends = TrieMap.empty[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        starts(e.jobId) = (props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
          props.exists(_.getProperty("spark.sql.execution.id") != null))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends(e.jobId) = e.time
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = Try(body)
      val returned = System.currentTimeMillis()
      ListenerBusDrain(sc)
      (out, returned, starts.toSeq.map { case (id, (g, sql)) => Job(g, sql, ends.get(id)) })
    } finally sc.removeSparkListener(listener)
  }

  private def admitThreads: Seq[String] =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .map(_.getName).filter(_.startsWith("graft-admit"))

  private def sigRows(st: States): Long = spark.read.parquet(st.sigs).count()

  /** The legs of a text+emb admission of `batch` (vectors `batchEmb`)
    * against `st`'s states, as [[StreamingAdmit.admit]] builds them.
    */
  private def textEmbLegs(
      st: States, batch: DataFrame, batchEmb: DataFrame, strict: Boolean): Admission.Legs =
    Admission.legs(
      spark.read.schema(Dedup.dedupSignatures(batch).schema).parquet(st.sigs), batch,
      Some(() => Similarity.admitEmbeddingSigs(spark, st.esigs, batchEmb)), None, None,
      strict)

  private def statuses(st: DataFrame): Map[Long, String] =
    st.select("doc_id", "status").as[(Long, String)].collect().toMap

  test("emb bootstrap fails named, before any state write, when every corpus id is >= nc") {
    val rnd = new scala.util.Random(7)
    // k-means seeds from vec_id < nc; ids offset by 1e9 leave it no seed
    val corpus = (0 until 100)
      .map(i => (1000000000L + i, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val bootstraps = Seq[(String, String => Unit)](
      "flat" -> (d => Similarity.admitEmbeddingBootstrap(corpus, d)),
      "imi" -> (d => Similarity.admitEmbeddingBootstrapImi(corpus, d)))
    for ((name, bootstrap) <- bootstraps) {
      val dir = new java.io.File(tmpDir(s"emb-bootstrap-$name"), "esigs")
      val e = intercept[IllegalArgumentException](bootstrap(dir.getPath))
      assert(e.getMessage.contains("no corpus vec_id is below nc"), name)
      assert(!dir.exists(), s"$name: no state file may be written")
    }
  }

  test("admission states read with their written schema: same rows as inference, no footer job") {
    for (flavor <- Seq("flat", "imi")) {
      val st = new States(tmpDir(s"admit-schema-$flavor"), flavor)
      def sameAsInferred(stage: String): Unit =
        for ((path, schema) <- st.tables) {
          val inferred = spark.read.parquet(path)
          val known = spark.read.schema(schema).parquet(path)
          assert(known.schema === inferred.schema, s"$flavor $stage $path")
          assert(known.exceptAll(inferred).isEmpty && inferred.exceptAll(known).isEmpty,
            s"$flavor $stage $path")
        }
      sameAsInferred("bootstrap")
      val assignRows = spark.read.parquet(s"${st.esigs}/assign").count()
      // an inferred read starts one job outside any SQL execution (the
      // footer read); the admit must start none
      val (_, _, inferJobs) = jobsOf(st.tables.foreach { case (p, _) => spark.read.parquet(p) })
      assert(inferJobs.count(!_.inSql) >= st.tables.size, s"$flavor: $inferJobs")
      val (admitted, _, jobs) = jobsOf(st.admit())
      assert(admitted.get === st.admits, flavor)
      assert(jobs.nonEmpty && jobs.forall(_.inSql),
        s"$flavor: ${jobs.count(!_.inSql)} of ${jobs.size} admit jobs ran outside a SQL execution")
      info(s"$flavor: ${jobs.size} admit jobs; inferred reads of its ${st.tables.size} state " +
        s"tables would add ${inferJobs.count(!_.inSql)}")
      assert(sigRows(st) === 300L + st.admits.size)
      assert(spark.read.parquet(s"${st.esigs}/assign").count() === assignRows + 1)
      sameAsInferred("append")
    }
  }

  test("leg and write threads carry the caller's job group; none outlives the call") {
    val st = new States(tmpDir("admit-group"), "flat")
    val sc = spark.sparkContext
    val base = st.base.getPath
    @volatile var calling = true
    @volatile var sawAdmitThread = false
    val watcher = new Thread(() => while (calling) {
      if (admitThreads.nonEmpty) sawAdmitThread = true
      Thread.sleep(2)
    })
    sc.setJobGroup("admit-group", "one strict admit", interruptOnCancel = false)
    try {
      watcher.start()
      val (admitted, _, jobs) = jobsOf(st.admit(
        outPath = Some(s"$base/out"), reportPath = Some(s"$base/report")))
      calling = false
      watcher.join()
      assert(admitted.get === st.admits)
      assert(jobs.nonEmpty)
      assert(jobs.forall(_.group.contains("admit-group")),
        s"jobs outside the caller's group: ${jobs.filterNot(_.group.contains("admit-group"))}")
      assert(sc.getLocalProperty("spark.jobGroup.id") === "admit-group")
      assert(sc.getLocalProperty("spark.job.description") === "one strict admit")
      assert(sawAdmitThread, "the call never ran a leg or write thread")
      assert(admitThreads.isEmpty, s"threads outlived the call: $admitThreads")
    } finally {
      calling = false
      sc.clearJobGroup()
    }
  }

  test("a failed write before the sig append surfaces as itself; the sig state is untouched") {
    val st = new States(tmpDir("admit-write-fault"), "flat")
    val base = st.base.getPath
    val blocker = writeFile(st.base, "blocker", "not a directory")
    // the output write runs beside the emb assign append (the report ran
    // first, alone); its parent is a plain file, so it cannot be created
    val badOut = new java.io.File(blocker, "out").getPath
    val direct = intercept[Exception](
      spark.range(1).write.parquet(new java.io.File(blocker, "probe").getPath))
    val rows = sigRows(st)
    val (out, returned, jobs) = jobsOf(st.admit(
      outPath = Some(badOut), reportPath = Some(s"$base/report")))
    val e = out.failed.get
    assert(e.getClass === direct.getClass, e)
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException] &&
      !e.isInstanceOf[java.util.concurrent.CompletionException], e)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(jobs.forall(_.end.exists(_ <= returned)), s"jobs ran on after the call: $jobs")
    assert(sigRows(st) === rows, "the sig append must not run after a failed write")
    val report = spark.read.parquet(s"$base/report")
      .filter(col("status") === "admitted").select("n_docs").as[Long].collect()
    assert(report.toSeq === Seq(st.admits.size.toLong), "the report is the first write")
    assert(st.admit(outPath = Some(s"$base/out")) === st.admits)
    assert(spark.read.parquet(s"$base/out").select("doc_id").as[Long].collect().toSet === st.admits)
    assert(sigRows(st) === rows + st.admits.size)
  }

  test("a failed emb leg surfaces as itself after the text leg's jobs have finished") {
    val st = new States(tmpDir("admit-leg-fault"), "flat")
    val base = st.base.getPath
    new scala.reflect.io.Directory(new java.io.File(s"${st.esigs}/centroids")).deleteRecursively()
    val rows = sigRows(st)
    val (out, returned, jobs) = jobsOf(st.admit(outPath = Some(s"$base/out")))
    val e = out.failed.get
    assert(e.isInstanceOf[org.apache.spark.sql.AnalysisException], e)
    assert(e.getMessage.contains("centroids"), e)
    assert(jobs.nonEmpty, "the text leg ran no job")
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(jobs.forall(_.end.exists(_ <= returned)), s"jobs ran on after the call: $jobs")
    assert(sigRows(st) === rows)
    assert(!new java.io.File(s"$base/out").exists())
  }

  test("strict passes over edges restricted to the still-admitted docs equal the serial passes") {
    val st = new States(tmpDir("admit-restrict"), "flat")
    val corpusText = st.corpus.filter(col("doc_id") === 0).select("text").as[String].head()
    val batch = Seq(
      6000000L -> corpusText, // dup_exact_corpus, emb edge to 6000007
      6000001L -> novel1, // text pair with 6000002: survives
      6000002L -> (novel1 + " zq"), // loses the text pass, emb edge to 6000005
      6000003L -> novel2, // emb pair with 6000004: survives
      6000004L -> novel3, // loses the emb pass
      6000005L -> "tally sheets for the ferry crossings kept at the lower landing stage",
      6000007L -> "an inventory of slate roofing pegs held in the quarry office loft"
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
    // three vectors far from the corpus; docs sharing one form an emb edge
    val vec = st.corpusEmb.select(
      col("vec_id").as("v"), expr("transform(embedding, x -> -x)").as("embedding"))
    val batchEmb = Seq(6000000L -> 7L, 6000007L -> 7L, 6000002L -> 3L, 6000005L -> 3L,
      6000003L -> 5L, 6000004L -> 5L).toDF("vec_id", "v")
      .join(vec, "v").select("vec_id", "embedding")

    val corpusSt = Admission.classify(textEmbLegs(st, batch, batchEmb, strict = false))
    val legs = textEmbLegs(st, batch, batchEmb, strict = true)
    val got = Admission.classify(legs)
    // the serial composition: each pass's one-call form over the docs the
    // earlier passes left admitted
    def admittedIn(s: DataFrame) = s.filter(col("status") === "admitted")
    val s0 = Dedup.admitStrict(corpusSt, legs.sigs)
    val embLosers = Similarity.admitEmbStrictLosers(
      legs.emb.get.join(admittedIn(s0).select(col("doc_id").as("vec_id")), "vec_id")
        .select("vec_id", "cid", "cv", "cn"))
    val serial = Dedup.restatus(s0,
      embLosers.select(col("vec_id").as("doc_id"), lit("near_dup_batch_emb").as("status")))

    assert(got.select("doc_id", "key", "status").collect().toSet ===
      serial.select("doc_id", "key", "status").collect().toSet)
    assert(statuses(got) === Map(
      6000000L -> "dup_exact_corpus", 6000001L -> "admitted", 6000002L -> "near_dup_batch",
      6000003L -> "admitted", 6000004L -> "near_dup_batch_emb", 6000005L -> "admitted",
      6000007L -> "admitted"))
    // the unrestricted emb edges would demote two admitted docs
    val unrestricted = DedupClusters.minIdLosers(legs.embEdges.get).as[Long].collect().toSet
    assert(Set(6000005L, 6000007L).subsetOf(unrestricted), unrestricted)
  }

  test("a strict admit builds its pair lists with the legs: few jobs start after legs returns") {
    val st = new States(tmpDir("admit-tail"), "flat")
    val out = new java.io.File(st.base, "out").getPath
    val (legs, _, legJobs) = jobsOf(textEmbLegs(st, st.batch, st.batchEmb, strict = true))
    val (admitted, _, tail) = jobsOf {
      val s = Admission.classify(legs.get)
      val ids = s.filter(col("status") === "admitted").select("doc_id")
      Admission.appendState(ids, legs.get, Some(st.sigs), Some(st.esigs), None,
        Seq(() => st.batch.join(ids, "doc_id").write.parquet(out)))
      ids.as[Long].collect().toSet
    }
    assert(admitted.get === st.admits)
    info(s"${legJobs.size} jobs until legs returned, ${tail.size} after")
    // the serial passes over the admitted docs' sigs and vectors started
    // 30 jobs here; over the built edge lists they start 17-18
    assert(tail.size <= 20, s"${tail.size} jobs after legs returned")
  }

  test("every job of a strict admit is named after its kernel step, none after a Spark pool's stack") {
    val st = new States(tmpDir("admit-site"), "flat")
    val base = st.base.getPath
    val sc = spark.sparkContext
    // job id -> (the job's call site, its stages' names)
    val sites = TrieMap.empty[Int, (String, Seq[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites(e.jobId) = (Option(e.properties).map(_.getProperty("callSite.short")).orNull,
          e.stageInfos.map(_.name))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      StreamingAdmit.admit(spark, st.batch, st.sigs, strict = true, reportPath = Some(s"$base/report"),
        esigsPath = Some(st.esigs), batchEmb = Some(st.batchEmb), outPath = Some(s"$base/out"))
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    val jobs = sites.toSeq.sortBy(_._1).map(_._2)
    assert(jobs.nonEmpty)
    val pooled = jobs.filter { case (site, stages) => (Option(site) ++ stages).exists(_.contains("CompletableFuture")) }
    assert(pooled.size === 0, s"of ${jobs.size} jobs named after a pool thread, e.g. ${pooled.take(2)}")
    val steps = jobs.map(_._1).toSet
    assert(steps.subsetOf(Set("Admission.legs", "Admission.classify", "Admission.appendState")), steps)
    assert(steps.contains("Admission.legs") && steps.contains("Admission.appendState"), steps)
    assert(sc.getLocalProperty("callSite.short") === null, "the caller's call site is restored")
    assert(spark.read.parquet(s"$base/out").select("doc_id").as[Long].collect().toSet === st.admits)
  }
}
