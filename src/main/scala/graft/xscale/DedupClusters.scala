package graft.xscale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The last step of a fuzzy-dedup pipeline: near-dup PAIRS (x02/x03/x04
  * output) → duplicate CLUSTERS → one representative per cluster. Pairs
  * alone over-remove (a~b and b~c should drop two docs, not four half-pairs)
  * — transitivity needs connected components.
  *
  * Implementation is label propagation as DataFrame algebra: every node
  * starts labeled with itself; each round takes the min label over the
  * neighborhood; converged when no label changes. Rounds needed = graph
  * diameter, and near-dup graphs are piles of small dense cliques, so 2-4
  * rounds in practice. Each round is one shuffle keyed on node id.
  * A checkpoint ([[ckpt]]) cuts the per-iteration lineage so the plan doesn't
  * grow exponentially (the classic iterative-DataFrame trap).
  */
object DedupClusters {

  /** Iteration-state materializer. The backend is a property of the
    * session, not of the call: when the frame's SparkContext has a
    * checkpoint dir (set for a scope by [[graft.Sessions.withCheckpointDir]],
    * e.g. `Cli corpus|admit --ckpt <dir>`), every cut is a reliable one
    * (HDFS/object-store backed) that survives executor loss, the
    * production posture for a 100 TB CC job. Otherwise it is a
    * `localCheckpoint`, whose blocks live on executors: fast, but on a
    * real cluster an executor loss mid-iteration is IRRECOVERABLE because
    * the lineage was truncated.
    */
  private[graft] def ckpt(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.nonEmpty) df.checkpoint()
    else {
      // LAZY local checkpoint (eager = false): the blocks materialize
      // inside the FIRST consumer's job (any partition a short-circuiting
      // first action skips is completed by the post-job doCheckpoint
      // pass), so a ckpt chain of k frames costs k fewer full
      // serial-barrier jobs per query than the eager form — the admit
      // steady legs run 5 such chains per batch and were job-count-bound
      // at sf0.1 (r16 VERDICT #1). Multi-consumer reuse (the reason ckpt
      // exists) is unchanged: after the first action the plan reads
      // cached blocks, and the truncated lineage still caps iterative
      // plan growth.
      df.localCheckpoint(eager = false)
    }

  /** Connected components of an undirected pair list `(a, b)` →
    * `(id, component)` where component = min node id reachable, by label
    * propagation (near-dup clique piles) — [[connectedComponentsStar]] for
    * high-diameter graphs.
    *
    * Skew: a mega-component (one boilerplate phrase cloned into millions of
    * docs) makes its hub node a HOT JOIN KEY in every label-prop round.
    * AQE's skew-join rewrite cannot help here — the labels side reaches the
    * join through an aggregation, not a bare shuffle, which is outside
    * `OptimizeSkewedJoin`'s `SMJ(Sort(Shuffle), Sort(Shuffle))` pattern
    * (pinned in `DedupClustersSpec`) — so pass `salts` > 1 to split each
    * hot key across `salts` reducers via [[graft.query.SkewJoin]]: the
    * labels side is exploded `salts` ways (node-table-sized, cheap next to
    * the edge list), results are row-identical.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      salts: Int = 1): DataFrame = {
    val edges0 = ckpt(symmetric(pairs))
    // Adaptive algorithm choice for the iterative tail: a near-dup pair
    // graph is usually TINY next to the corpus (thousands of edges from
    // millions of docs), yet every label-prop round is a full
    // shuffle+checkpoint+convergence-check cycle whose fixed cost dwarfs
    // the work (a sf0.1 simhash graph took 9 rounds ≈ 50 Spark jobs to
    // move a few thousand labels). The edge list is already materialized,
    // so counting it is free — a graph that fits ONE task (≤ 200k edges ≈
    // 3 MB) is solved in ONE single-task pass by union–find inside that
    // task (executor-side, never a driver collect; same row-identical
    // min-id labeling), while big graphs keep the full distributed loop
    // below. Same spirit as a broadcast join's small-side threshold,
    // applied to an iterative algorithm.
    if (edges0.count() <= OneTaskEdges)
      return ckpt(unionFindOneTask(edges0.coalesce(1)))
    val edges = edges0
    // seed labels at min(id, min neighbor) instead of id: for the dense
    // little cliques near-dup graphs are made of, that IS the fixed point,
    // so the loop runs one confirmation round instead of two propagation
    // rounds — one fewer shuffle+checkpoint cycle of the iterative tail.
    var labels = ckpt(
      edges.groupBy(col("a").as("id")).agg(min("b").as("_mn"))
        .select(col("id"), least(col("id"), col("_mn")).as("component")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // each node adopts min(own label, neighbors' labels, label-of-label);
      // the old label rides along into the one materialization so the
      // convergence check reads the checkpointed result instead of
      // re-joining. The label-of-label term is POINTER JUMPING (Shiloach–
      // Vishkin): the current labeling is unioned in as extra edges
      // (id → component), so the same join+min also pulls each node's
      // label's label — distance-to-root doubles per round and long chains
      // converge in O(log d) rounds instead of d (a sf0.1 simhash pair
      // graph took 9 propagation rounds; each round is a full
      // shuffle+checkpoint cycle, the dominant cost of every CC consumer).
      // Labels are always in-component node ids, so the fixed point — min
      // reachable id — is unchanged.
      val lbl = labels.withColumnRenamed("id", "b")
      val stepEdges = edges.select(col("a"), col("b"))
        .unionByName(labels.select(col("id").as("a"), col("component").as("b")))
      val joined =
        if (salts > 1) graft.query.SkewJoin.saltedInnerJoin(stepEdges, lbl, "b", salts)
        else stepEdges.join(lbl, "b")
      val neighborMin = joined
        .groupBy(col("a").as("id"))
        .agg(min("component").as("_neighbor_min"))
      val updated = ckpt(
        labels
          .join(neighborMin, Seq("id"), "left")
          .select(
            col("id"),
            least(col("component"), coalesce(col("_neighbor_min"), col("component")))
              .as("component"),
            col("component").as("_old")))
      // single scan of the just-materialized result — no extra shuffle
      converged = updated.filter(col("component") =!= col("_old")).isEmpty
      labels = updated.drop("_old")
      i += 1
    }
    // silent non-convergence would quietly under-dedup (a chain longer
    // than maxIter keeps >1 representative); fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "raise maxIter (rounds needed = largest component diameter)")
    labels
  }

  /** The largest symmetric edge list (both directions of every pair)
    * [[connectedComponents]] solves in one union–find task, ≈ 3 MB.
    */
  private[graft] val OneTaskEdges = 200000L

  // pairs are unique undirected edges (callers emit a<b), so the
  // symmetric union is already duplicate-free — no distinct shuffle
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.select(col("a"), col("b")).union(pairs.select(col("b").as("a"), col("a").as("b")))

  /** [[connectedComponents]] for a caller that already knows `pairs` holds
    * at most `pairsAtMost` pairs: when their symmetric list is within
    * [[OneTaskEdges]] it goes straight to the one-task union–find, with no
    * count job and no cut of the edge list (it has one reader); otherwise
    * it is [[connectedComponents]]. Same labeling either way.
    */
  private[graft] def componentsAtMost(pairsAtMost: Long): DataFrame => DataFrame = pairs =>
    if (2L * pairsAtMost <= OneTaskEdges)
      ckpt(unionFindOneTask(symmetric(pairs).coalesce(1)))
    else connectedComponents(pairs)

  /** The min-id keep-one rule over an undirected pair list `(a, b)`: the
    * LOSERS — every node that is not its component's minimum id — as one
    * `doc_id` column. The survivor rule of the text, emb and media strict
    * admission passes.
    */
  def minIdLosers(pairs: DataFrame): DataFrame =
    minIdLosersBy(pairs, connectedComponents(_))

  /** [[minIdLosers]] with the components of `pairs` taken by `components`. */
  private[graft] def minIdLosersBy(pairs: DataFrame, components: DataFrame => DataFrame): DataFrame =
    components(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))

  /** Exact connected components of a SINGLE-PARTITION symmetric edge list
    * by union–find (path halving + union by smaller root id), emitting the
    * same `(id, component = min reachable id)` labeling the distributed
    * loop converges to. Runs as one executor task over the coalesced
    * edges — bounded by the caller's small-graph threshold, so the
    * in-memory state is a few MB; this is an executor-side fast path, not
    * a driver collect.
    */
  private def unionFindOneTask(edges: DataFrame): DataFrame = {
    val sp = edges.sparkSession
    import sp.implicits._
    edges.select(col("a"), col("b")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.get(x)
          while (p != x) { // path halving
            val gp = parent.get(p)
            parent.put(x, gp)
            x = gp
            p = parent.get(x)
          }
          x
        }
        it.foreach { case (a, b) =>
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a)
          val rb = find(b)
          if (ra != rb) { // min id becomes the root, so root == component
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        parent.keySet().forEach(id => out += ((id, find(id))))
        out.iterator
      }
      .toDF("id", "component")
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): provably converges in
    * O(log² n) rounds REGARDLESS of graph diameter, where label propagation
    * needs diameter rounds. Use this when components can be long chains
    * (URL redirect graphs, citation chains); for near-dup graphs — piles of
    * small dense cliques — label propagation converges in 2-4 rounds and is
    * cheaper per round, so [[connectedComponents]] stays the x14 default.
    *
    * Each round is two grouped aggregations over the edge list:
    *   large-star: every node connects its LARGER neighbors to its minimum
    *   neighborhood label; small-star: every node connects its smaller-or-
    *   equal neighbors to that minimum. Both preserve connectivity (each
    *   rewritten edge stays within the component) and strictly shrink
    *   either the edge count or the label sum, so the fixed point — every
    *   component a star rooted at its minimum id — is reached without
    *   overshooting. Edges stay canonical (a < b) throughout; convergence
    *   is an EXACT set-equality check done as ONE aggregation: both edge
    *   sets are distinct, so symmetric difference = groups of the union
    *   with count 1 — one shuffle per round where the previous two-sided
    *   `exceptAll` formulation cost two.
    */
  def connectedComponentsStar(
      pairs: DataFrame,
      maxIter: Int = 50): DataFrame = {
    var edges = ckpt(
      pairs
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct())
    // nodes of the ORIGINAL graph: star contraction rewrites edges, so the
    // final edge list loses interior nodes — the id universe must be fixed
    // up front to map every input node to its component.
    val nodes = ckpt(
      edges.select(col("a").as("id"))
        .union(edges.select(col("b").as("id")))
        .distinct())
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: symmetrize, group by node u; m = min(u, min(nbrs));
      // emit (m, v) for every neighbor v > u. m <= u < v keeps canonical order.
      val adj = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val mLarge = adj.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = ckpt(
        adj.join(mLarge, "u")
          .filter(col("v") > col("u"))
          .select(col("m").as("a"), col("v").as("b"))
          .filter(col("a") =!= col("b"))
          .distinct())
      // small-star: for each node u, its strictly-smaller neighbors (the a
      // side of canonical edges grouped by b); m = min of them; reconnect
      // u and every such neighbor to m.
      val mSmall = large.groupBy(col("b").as("u")).agg(min(col("a")).as("m"))
      val small = ckpt(
        large.join(mSmall, large("b") === mSmall("u"))
          .select(mSmall("m").as("a"), large("a").as("b"))
          .union(mSmall.select(col("m").as("a"), col("u").as("b")))
          .filter(col("a") =!= col("b"))
          .distinct())
      // both sides are distinct sets, so set equality == "no (a,b) group of
      // the union has count 1": exact, and ONE aggregation instead of the
      // two full exceptAll shuffles the naive two-sided check costs
      converged = small.union(edges)
        .groupBy("a", "b").agg(count(lit(1)).as("_n"))
        .filter(col("_n") === 1)
        .isEmpty
      edges = small
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within $maxIter rounds")
    // fixed point = disjoint stars rooted at component minima: each non-root
    // node has edges only to its root, roots appear only on the a side.
    val rooted = edges.groupBy(col("b").as("id")).agg(min(col("a")).as("component"))
    nodes.join(rooted, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Keep one representative (min doc_id) per duplicate cluster: docs that
    * appear in no pair survive untouched; in each connected component only
    * the smallest doc_id survives. `docs` must carry `doc_id`.
    *
    * On a real cluster run under a checkpoint dir
    * ([[graft.Sessions.withCheckpointDir]]): iteration state then persists
    * to reliable storage and survives executor loss (executor-local
    * checkpoints, the default, are irrecoverable mid-iteration). Pass
    * `salts` > 1 when the pair graph has a mega-component (see
    * [[connectedComponents]]).
    */
  def dedupByPairs(
      docs: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 20,
      salts: Int = 1): DataFrame =
    dedupByComponents(docs, connectedComponents(pairs, maxIter, salts))

  /** [[dedupByPairs]] from a PRECOMPUTED `(id, component)` labeling — the
    * entry point for callers that apply several survivor rules to one
    * clustering (x95 measures keep-first vs keep-best): connected
    * components is the expensive iterative part and its result is already
    * materialized by its final checkpoint, so sharing it costs nothing and
    * re-deriving it would double the label-prop work.
    */
  def dedupByComponents(docs: DataFrame, comp: DataFrame): DataFrame = {
    val losers = comp.filter(col("id") =!= col("component")).select(col("id").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** [[dedupByPairs]] with a QUALITY-AWARE survivor rule — the remediation
    * x94's regret audit calls for: per connected component the kept doc is
    * the argmax of `score` (ties to the smaller doc_id), not the smallest
    * id. `score` is a column evaluable on `docs` (e.g. x09's quality).
    * Singletons (docs in no pair) survive untouched. Costs one extra
    * per-component window over the CLUSTERED docs only — the pair graph
    * is tiny next to the corpus, so the window input is too.
    */
  def dedupByPairsKeepBest(
      docs: DataFrame,
      pairs: DataFrame,
      score: Column,
      maxIter: Int = 20,
      salts: Int = 1): DataFrame =
    dedupByComponentsKeepBest(
      docs, connectedComponents(pairs, maxIter, salts), score)

  /** [[dedupByPairsKeepBest]] from a precomputed labeling — see
    * [[dedupByComponents]] for why the split exists.
    */
  def dedupByComponentsKeepBest(
      docs: DataFrame,
      comp0: DataFrame,
      score: Column): DataFrame = {
    val comp = comp0.select(col("id").as("doc_id"), col("component"))
    val clustered = docs.join(comp, "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(score.desc, col("doc_id"))
    val best = clustered
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "component")
    docs.join(comp.select("doc_id"), Seq("doc_id"), "left_anti").unionByName(best)
  }
}
