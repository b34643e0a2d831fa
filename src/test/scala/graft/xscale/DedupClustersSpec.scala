package graft.xscale

import graft.SparkSpec

/** Connected components + cluster-representative dedup: transitivity,
  * isolated pairs, untouched singletons, and end-to-end with real x04
  * pairs at sf0.001.
  */
class DedupClustersSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: chain + separate pair + transitive closure") {
    // chain 1-2-3-4 (diameter 3), pair 10-11, triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a", "b")
    val comp = DedupClusters.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L), comp.toString)
    assert(Seq(10L, 11L).forall(comp(_) == 10L), comp.toString)
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L), comp.toString)
  }

  test("componentsAtMost: a known small bound skips the edge count and labels as connectedComponents does") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a", "b")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def run(cc: => org.apache.spark.sql.DataFrame): (Map[Long, Long], Int) = {
      org.apache.spark.ListenerBusDrain(sc)
      jobs.set(0)
      val comp = cc.as[(Long, Long)].collect().toMap
      org.apache.spark.ListenerBusDrain(sc)
      (comp, jobs.get)
    }
    sc.addSparkListener(listener)
    try {
      val (counted, countedJobs) = run(DedupClusters.connectedComponents(pairs))
      val (bounded, boundedJobs) = run(DedupClusters.componentsAtMost(7L)(pairs))
      assert(bounded === counted)
      // the counted path counts (and cuts) the edge list before the
      // union-find job; the bounded path runs the union-find job alone
      assert(boundedJobs === 1 && countedJobs > boundedJobs, s"counted: $countedJobs jobs, bounded: $boundedJobs")
      // a bound past the one-task threshold takes the counted path
      val (big, _) = run(DedupClusters.componentsAtMost(DedupClusters.OneTaskEdges)(pairs))
      assert(big === counted)
    } finally sc.removeSparkListener(listener)
  }

  test("connectedComponentsStar: chains, bridges, cliques match label propagation") {
    // long chain (diameter >> star rounds), a bridge joining two V-shapes
    // whose min-neighbor edges would NOT span it, a clique, and a pair
    val chain = (30L until 60L).map(i => (i, i + 1))
    val bridge = Seq((2L, 5L), (3L, 4L), (4L, 5L))
    val clique = Seq((70L, 71L), (70L, 72L), (71L, 72L))
    val pairs = (chain ++ bridge ++ clique :+ (90L, 91L)).toDF("a", "b")
    val star = DedupClusters.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    val prop = DedupClusters.connectedComponents(pairs, maxIter = 40)
      .as[(Long, Long)].collect().toMap
    assert(star === prop)
    assert(Seq(2L, 3L, 4L, 5L).forall(star(_) == 2L), star.toString)
    assert((30L to 60L).forall(star(_) == 30L), star.toString)
  }

  test("connectedComponentsStar: randomized graphs agree with label propagation") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct.toDF("a", "b")
      val star = DedupClusters.connectedComponentsStar(pairs)
        .as[(Long, Long)].collect().toMap
      val prop = DedupClusters.connectedComponents(pairs, maxIter = 40)
        .as[(Long, Long)].collect().toMap
      assert(star === prop)
    }
  }

  test("reliable checkpointing yields identical components on both algorithms") {
    // the fault-tolerant path must be a pure storage-backend swap: same
    // fixtures, same components, lineage persisted under the reliable dir
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val chain = (30L until 60L).map(i => (i, i + 1))
    val bridge = Seq((2L, 5L), (3L, 4L), (4L, 5L))
    val pairs = (chain ++ bridge :+ (90L, 91L)).toDF("a", "b")
    val local = DedupClusters.connectedComponents(pairs, maxIter = 40)
      .as[(Long, Long)].collect().toMap
    val (reliable, reliableStar) = graft.Sessions.withCheckpointDir(spark, dir) {
      (DedupClusters.connectedComponents(pairs, maxIter = 40).as[(Long, Long)].collect().toMap,
        DedupClusters.connectedComponentsStar(pairs).as[(Long, Long)].collect().toMap)
    }
    assert(reliable === local)
    assert(reliableStar === local)
    // the scoped dir was actually used (RDD checkpoint files exist), and
    // the scope left the shared context without a dir
    assert(rddCheckpoints(dir) > 0, s"no rdd checkpoints under $dir")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  /** The RDD a cut frame reads (the `LogicalRDD` a checkpoint plans as). */
  private def cutRdd(cut: org.apache.spark.sql.DataFrame) =
    cut.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.get

  /** Jobs `body` starts, and the RDD names of every stage they ran. */
  private def jobsOf[T](body: => T): (T, Int, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val rdds = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        e.stageInfos.foreach(_.rddInfos.foreach(r => rdds.add(r.name)))
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get, scala.jdk.CollectionConverters.CollectionHasAsScala(rdds).asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("ckpt with no checkpoint dir: a lazy local cut, no job of its own, later reads hit local blocks") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val df = spark.range(0, 1000).toDF("id").filter($"id" % 3 === 0)
    val (cut, cutJobs, _) = jobsOf(DedupClusters.ckpt(df))
    assert(cutJobs === 0, s"ckpt started $cutJobs jobs")
    val (n, firstJobs, _) = jobsOf(cut.count())
    assert(n === 334L && firstJobs > 0)
    // the first action materialized the cut into executor-local blocks:
    // checkpointed, with no reliable checkpoint file
    val rdd = cutRdd(cut)
    assert(rdd.isCheckpointed)
    assert(rdd.getCheckpointFile.isEmpty)
    val (m, _, read) = jobsOf(cut.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0))
    assert(m === (0L until 1000L by 3L).sum)
    assert(read.contains("LocalCheckpointRDD"), read.distinct.mkString(", "))
  }

  test("ckpt inside Sessions.withCheckpointDir: a reliable cut written under the scoped dir") {
    val dir = tmpDir("graft_ckpt_scope").getPath
    val df = spark.range(0, 1000).toDF("id").filter($"id" % 3 === 0)
    val cut = graft.Sessions.withCheckpointDir(spark, dir) {
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(dir)))
      DedupClusters.ckpt(df)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(cutRdd(cut).getCheckpointFile.exists(_.contains(dir)), cutRdd(cut).getCheckpointFile)
    assert(rddCheckpoints(dir) > 0, s"no rdd checkpoints under $dir")
    // the cut outlives its scope: it reads its reliable files
    assert(cut.count() === 334L)
  }

  test("a nested withCheckpointDir scope runs under the outer dir and leaves it set") {
    val outer = tmpDir("graft_ckpt_outer").getPath
    val inner = tmpDir("graft_ckpt_inner").getPath
    val sc = spark.sparkContext
    graft.Sessions.withCheckpointDir(spark, outer) {
      val cut = graft.Sessions.withCheckpointDir(spark, inner) {
        assert(sc.getCheckpointDir.exists(_.contains(outer)), sc.getCheckpointDir)
        DedupClusters.ckpt(spark.range(0, 100).toDF("id"))
      }
      assert(cutRdd(cut).getCheckpointFile.exists(_.contains(outer)))
      // the inner scope did not unset the outer one
      assert(sc.getCheckpointDir.exists(_.contains(outer)), sc.getCheckpointDir)
    }
    assert(rddCheckpoints(outer) > 0, s"no rdd checkpoints under $outer")
    assert(rddCheckpoints(inner) === 0L)
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("a withCheckpointDir scope whose body throws leaves the context with no dir") {
    val dir = tmpDir("graft_ckpt_throw").getPath
    val e = intercept[IllegalStateException] {
      graft.Sessions.withCheckpointDir(spark, dir) {
        assert(spark.sparkContext.getCheckpointDir.nonEmpty)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("mega-star hot key: AQE splits the bare join; the CC join needs salting (identical result)") {
    import org.apache.spark.sql.functions._
    // one pathological component: node 0 adjacent to 1..N (one hot join
    // key after symmetrization), beside disjoint 2-cliques — the skew
    // profile of a clone-heavy dedup graph. Sized so the hot key's shuffle
    // partition stays above the (lowered) skew threshold even after lz4.
    val n = 1000000L
    val star = spark.range(1, n + 1).select(lit(0L).as("a"), col("id").as("b"))
    val cliques = spark.range(0, 100000L)
      .select((col("id") * 2 + n + 10).as("a"), (col("id") * 2 + n + 11).as("b"))
    val pairs = star.union(cliques)
    val edges = pairs.select("a", "b")
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val before = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // labels too big to broadcast — the 100 TB posture, where the node
      // table never broadcasts; thresholds scaled to fixture bytes (the
      // production defaults fire the same rule at 256 MB partitions)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512KB")
      // (1) a BARE shuffle-to-shuffle SMJ on the hot key: AQE's
      // OptimizeSkewedJoin matches SMJ(Sort(Shuffle), Sort(Shuffle)) and
      // splits the skewed partition
      val bareLabels = spark.range(0, 2 * n).select(col("id").as("b"), col("id").as("component"))
      val bare = edges.join(bareLabels, "b")
      assert(bare.queryExecution.toRdd.count() === edges.count())
      val barePlan = bare.queryExecution.executedPlan.toString
      assert(barePlan.contains("skew=true"),
        s"expected OptimizeSkewedJoin to split the bare SMJ's hot partition:\n$barePlan")
      // (2) the REAL label-prop round reaches the join through an
      // aggregation (labels = groupBy(a).min), which is OUTSIDE the rule's
      // pattern — pin the limitation that motivates the salts knob
      val aggLabels = edges.groupBy(col("a").as("b")).agg(min("b").as("component"))
      val real = edges.join(aggLabels, "b")
        .groupBy(col("a").as("id")).agg(min("component").as("_neighbor_min"))
      assert(real.queryExecution.toRdd.count() === n + 1 + 200000L)
      val realPlan = real.queryExecution.executedPlan.toString
      assert(!realPlan.contains("skew=true"),
        s"AQE unexpectedly rewrote the agg-fed join — drop the salts knob?\n$realPlan")
      // (3) salted CC: row-identical components, hot key split 8 ways
      val comp = DedupClusters.connectedComponents(pairs)
      assert(comp.filter(col("component") === 0L).count() === n + 1)
      assert(comp.filter(col("id") === n + 10L)
        .select("component").as[Long].head() === n + 10L)
      val salted = DedupClusters.connectedComponents(pairs, salts = 8)
      assert(salted.filter(col("component") === 0L).count() === n + 1)
      assert(comp.join(salted.withColumnRenamed("component", "c2"), "id")
        .filter(col("component") =!= col("c2")).isEmpty)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedupByPairs: one survivor per cluster, singletons untouched") {
    val docs = (1L to 8L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 5L), (6L, 7L)).toDF("a", "b")
    val kept = DedupClusters.dedupByPairs(docs, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L, 6L, 8L)) // clusters {1,2,5}→1, {6,7}→6
  }

  test("end-to-end: simhash pairs at sf0.001 collapse to cluster reps") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.queries.find(_.name == "x04_dedup_simhash").get
      .run(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("doc_id_a").as("a"),
        org.apache.spark.sql.functions.col("doc_id_b").as("b"))
    val kept = DedupClusters.dedupByPairs(docs, pairs)
    val nDocs = docs.count()
    val nKept = kept.count()
    val nPaired = pairs.select("a").union(pairs.select("b")).distinct().count()
    assert(nKept < nDocs) // something was deduped
    // survivors = singletons + one rep per component ⇒ strictly more than
    // docs - paired (each component keeps one)
    assert(nKept > nDocs - nPaired)
    // idempotent: pairs among survivors are gone
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    val survivingPairs = pairs.as[(Long, Long)].collect()
      .count { case (a, b) => keptIds(a) && keptIds(b) }
    assert(survivingPairs === 0)
  }
}
