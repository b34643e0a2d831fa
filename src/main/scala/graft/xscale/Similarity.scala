package graft.xscale

import org.apache.spark.sql.{Column, DataFrame, graftnative}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

import graft.query.Q
import graft.query.Registry.table

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`, 64-dim): brute-force cosine top-k as the exactness
  * baseline, and a random-hyperplane-LSH bucketed variant as the scale path.
  *
  * Scale posture (100 TB): the query side is tiny and broadcast, so the
  * brute-force plan is a broadcast nested-loop whose cost is one scan of the
  * corpus per batch of queries — embarrassingly parallel but O(n·q). The LSH
  * variant buckets BOTH sides by a per-row signature (zero shuffle to
  * compute), then joins on the bucket key — shuffle keyed on bucket,
  * candidates only. Hyperplane components are md5-derived integer constants
  * computed once on the driver and inlined as literals into both the Spark
  * plan and the DuckDB oracle, so both engines see bit-identical planes.
  */
object Similarity {

  /** Number of random hyperplanes → 2^NP buckets. */
  val NP = 4

  /** IVF coarse-quantizer size, probe count and k-means rounds (x13). */
  val NC = 8
  val NPROBE = 2
  val NITER = 2

  /** SemDeDup cosine threshold (x30): same value as x05's near-dup
    * threshold so the two operators' notions of "semantically duplicate"
    * agree.
    */
  val SEMDEDUP_TAU = 0.45

  /** Target mean cluster size for auto-nc (x30): the within-cluster
    * self-join costs O(sum cluster²), so holding cluster size constant —
    * nc ∝ corpus — keeps total pair work LINEAR in the corpus.
    */
  val TargetClusterSize = 64L

  /** Fixed-point scale for the k-means quantizer: 2^20. Power-of-2 scaling
    * of float-origin values is EXACT in doubles, and all training arithmetic
    * (squared L2, per-dimension sums) then runs in long integers — order-
    * independent, so Spark and the DuckDB oracle derive bit-identical
    * centroids. A double-sum mean would be partition-order dependent and
    * break the oracle.
    */
  val VSCALE = 1048576.0

  /** Number of independent LSH tables; a near-neighbor is a candidate if it
    * collides in ANY table — recall 1-(1-p^NP)^NL instead of p^NP.
    */
  val NL = 8

  /** Deterministic pseudo-random hyperplanes, one set per table: component
    * (t,j,d) = h60("plane{t}_{j}_{d}") mod 2001 - 1000 ∈ [-1000, 1000].
    */
  val tablePlanes: Seq[Seq[Seq[Long]]] =
    (0 until NL).map(t =>
      (0 until NP).map(j => (0 until 64).map(d => XHash.h60(s"plane${t}_${j}_$d") % 2001 - 1000)))

  /** Table 0's planes (kept for bucket()'s single-table uses). */
  val planes: Seq[Seq[Long]] = tablePlanes.head

  /** embeddings → (vec_id, v: array<double>, nrm). */
  def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Native codegen dot product — same left-fold float semantics as
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` but a primitive loop.
    */
  def dot(a: Column, b: Column): Column = graftnative.api.dot(a, b)

  /** LSH bucket id in table t: bit j set iff v · plane_tj > 0. Pure per-row
    * expression.
    */
  def bucketT(v: Column, t: Int): Column =
    (0 until NP).map { j =>
      val plane = array(tablePlanes(t)(j).map(x => lit(x.toDouble)): _*)
      when(dot(v, plane) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Table-0 bucket (single-table uses / tests). */
  def bucket(v: Column): Column = bucketT(v, 0)

  /** Plane (t, j) for ANY j — the same deterministic seed formula as
    * [[tablePlanes]] (with which it agrees for j < NP), so the
    * occupancy-proportional variants below extend the pinned tables
    * instead of replacing them.
    */
  def planeFor(t: Int, j: Int): Seq[Long] =
    if (j < NP) tablePlanes(t)(j)
    else (0 until 64).map(d => XHash.h60(s"plane${t}_${j}_$d") % 2001 - 1000)

  /** Bucket id in table t with `np` hyperplanes (2^np buckets) — the
    * generalized [[bucketT]]; identical to it at np = NP.
    */
  def bucketTN(v: Column, t: Int, np: Int): Column =
    (0 until np).map { j =>
      val plane = array(planeFor(t, j).map(x => lit(x.toDouble)): _*)
      when(dot(v, plane) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Occupancy-proportional plane count: the smallest np with
    * 2^np ≥ n / targetOcc, clamped to [NP, 24]. The LSH analog of the
    * x30 auto-nc rule: with FIXED np, within-bucket pair mass is
    * Σ occ²/2 ≈ n²/2^(np+1) per table — quadratic in the corpus no
    * matter how well-spread the buckets are, which is exactly what
    * x136's sum_pairs measures. Holding MEAN occupancy at `targetOcc`
    * (buckets ∝ corpus) makes per-table pair mass ≈ n·targetOcc/2 —
    * linear — at the cost of log₂(n/targetOcc) plane dots per row,
    * still pure per-row scan work.
    */
  def autoNp(n: Long, targetOcc: Long = TargetClusterSize): Int = {
    var np = NP
    while (np < 24 && (1L << np) * targetOcc < n) np += 1
    np
  }

  /** knnLsh in its 100 TB posture: plane count grown with the corpus so
    * mean bucket occupancy stays ≈ targetOcc ([[autoNp]]). Same ANY-table
    * collision + exact-cosine-rerank contract as [[knnLsh]] (which pins
    * np = NP for the oracle twin's literals); identical results at small
    * n where autoNp clamps to NP. True duplicates still share every
    * bucket at any np — no hash can spread identical vectors — so
    * dup-dense corpora pay their clique mass here and the dedup (x30)
    * runs FIRST in a production pipeline.
    */
  def knnLshAuto(
      emb: DataFrame,
      isQuery: Column,
      k: Int = 3,
      targetOcc: Long = TargetClusterSize): DataFrame = {
    val np = autoNp(emb.count(), targetOcc)
    val e = withNorm(emb)
    val side = e
      .withColumn("bks", array((0 until NL).map(t => bucketTN(col("v"), t, np)): _*))
      .select(col("vec_id"), posexplode(col("bks")).as(Seq("tbl", "bucket")))
    rankBucketCandidates(e, side, isQuery, k)
  }

  private def planeSql(t: Int, j: Int): String =
    s"([${tablePlanes(t)(j).mkString(", ")}]::DOUBLE[])"

  private[xscale] def bucketSqlT(t: Int): String =
    (0 until NP).map { j =>
      s"(CASE WHEN list_aggregate(list_transform(generate_series(1, len(v)), " +
        s"i -> v[i] * ${planeSql(t, j)}[i]), 'sum') > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  private[xscale] val normCtes =
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "n AS (SELECT vec_id, v, sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e)"

  private[xscale] val cosSql =
    "list_aggregate(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * c.v[i]), 'sum') " +
      "/ (q.nrm * c.nrm)"

  /** Fixed-point view of the embeddings: (vec_id, v, nrm, vi: array<long>)
    * with vi = floor(v * 2^20) — the exact-integer domain the quantizer
    * trains in (see VSCALE).
    */
  def fixedPoint(emb: DataFrame): DataFrame =
    withNorm(emb).withColumn("vi", transform(col("v"), x => floor(x * VSCALE).cast("long")))

  /** NITER rounds of fixed-point k-means over `vi` (needs columns vec_id,
    * vi). Each round COLLECTS the centroids to the driver (bounded: NC × 64
    * longs — the quantizer is driver-resident state, exactly like a FAISS
    * coarse quantizer) and re-broadcasts them as literals. Keeping the
    * rounds as one lazy plan instead would re-execute every prior round's
    * aggregation inside each later round (Spark doesn't dedupe repeated
    * un-cached subtrees), so training cost would grow geometrically with
    * NITER; this way each round is one corpus scan. Shared by x13 (IVF)
    * and x30 (SemDeDup).
    */
  def trainQuantizer(
      vi: DataFrame,
      nc: Int = NC,
      sampleFraction: Double = 1.0): Seq[(Long, Seq[Long])] = {
    val sp = vi.sparkSession
    import sp.implicits._
    // A coarse quantizer does not need the whole corpus: at 100 TB the
    // per-round assignment scan dominates, so train on a deterministic
    // vec_id hash-sample (h60-keyed — the same cross-engine hash every
    // oracle bucket split uses, so an oracle CAN reproduce the sample) and
    // materialize it ONCE so all NITER rounds scan the small sample, not
    // the corpus. sampleFraction = 1.0 (the default, and what every
    // oracle-pinned query passes) keeps the original exact path.
    val train =
      if (sampleFraction >= 1.0) vi
      else {
        val keep = math.max(1L, (sampleFraction * 1000).toLong)
        DedupClusters.ckpt(
          vi.filter(XHash.h60(col("vec_id").cast("string")) % 1000 < keep)
            .select("vec_id", "vi"))
      }
    def collectCents(df: DataFrame): Seq[(Long, Seq[Long])] =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq.sortBy(_._1)
    // Seeds come from the FULL corpus (first nc vec_ids) so seeding does
    // not depend on the sample draw.
    var cents: Seq[(Long, Seq[Long])] = collectCents(
      vi.filter(col("vec_id") < nc).select(col("vec_id"), col("vi")))
    for (_ <- 1 to NITER) {
      val byDist = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
      cents = collectCents(
        train.join(broadcast(cents.toDF("cid", "ci")))
          .withColumn("dist", graftnative.api.sqdistLong(col("vi"), col("ci")))
          .withColumn("rn", row_number().over(byDist))
          .filter(col("rn") === 1)
          .select(col("cid"), posexplode(col("vi")).as(Seq("i", "x")))
          .groupBy("cid", "i")
          .agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
          .withColumn("m", floor(col("sx").cast("double") / col("cnt")).cast("long"))
          .groupBy("cid")
          .agg(transform(
            array_sort(collect_list(struct(col("i"), col("m")))),
            t => t.getField("m")).as("ci")))
    }
    cents
  }

  /** Every vector ranked by integer squared-L2 against the trained
    * centroids: adds (cid, dist, rn); rn = 1 is the assignment. The
    * centroid table is broadcast — no shuffle of the corpus side.
    */
  def quantizerRanked(vi: DataFrame, cents: Seq[(Long, Seq[Long])]): DataFrame = {
    val sp = vi.sparkSession
    import sp.implicits._
    val byDist = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
    vi.join(broadcast(cents.toDF("cid", "ci")))
      .withColumn("dist", graftnative.api.sqdistLong(col("vi"), col("ci")))
      .withColumn("rn", row_number().over(byDist))
  }

  /** DuckDB CTE chain re-deriving the SAME k-means assignment the Spark
    * side trains (bit-identical by fixed-point construction): defines
    * `vi`, `c0..c$NITER`, `d`, `r0` (vec_id, cid, dist, rn). Callers
    * append their own consumers of r0. Needs `normCtes` in scope.
    */
  private[xscale] def kmeansRankedSql: String =
    s"vi AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * $VSCALE) AS BIGINT)) AS vi FROM n), " +
      kmeansChainSql(NC)

  /** The c0..r0 tail of [[kmeansRankedSql]] with the seed cutoff as a
    * parameter and the `vi` (vec_id, vi int-list) CTE supplied by the
    * caller — lets compositions (x91) run the SAME bit-exact k-means over
    * vectors that are not the embeddings table.
    */
  private[xscale] def kmeansChainSql(ncLit: Long): String = {
    def iter(k: Int): String = {
      val prev = s"c${k - 1}"
      s"d$k AS (SELECT vi.vec_id, c.cid, " +
        "list_aggregate(list_transform(generate_series(1, 64), " +
        s"i -> (vi.vi[i] - c.ci[i]) * (vi.vi[i] - c.ci[i])), 'sum') AS dist " +
        s"FROM vi CROSS JOIN $prev c), " +
        s"a$k AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
        s"ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d$k) WHERE rn = 1), " +
        s"s$k AS (SELECT a.cid, t.i, SUM(vi.vi[t.i]) AS sx, COUNT(*) AS cnt " +
        s"FROM a$k a JOIN vi USING (vec_id) CROSS JOIN generate_series(1, 64) AS t(i) " +
        "GROUP BY a.cid, t.i), " +
        s"c$k AS (SELECT cid, list(CAST(floor(sx::DOUBLE / cnt) AS BIGINT) ORDER BY i) AS ci " +
        s"FROM s$k GROUP BY cid)"
    }
    s"c0 AS (SELECT vec_id AS cid, vi AS ci FROM vi WHERE vec_id < $ncLit), " +
      (1 to NITER).map(iter).mkString(", ") + ", " +
      "d AS (SELECT vi.vec_id, c.cid, " +
      "list_aggregate(list_transform(generate_series(1, 64), " +
      s"i -> (vi.vi[i] - c.ci[i]) * (vi.vi[i] - c.ci[i])), 'sum') AS dist FROM vi CROSS JOIN c$NITER c), " +
      "r0 AS (SELECT vec_id, cid, dist, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)"
  }

  /** SemDeDup (x30): cluster with the trained quantizer, then inside each
    * cluster drop every vector with a cosine >= `tau` neighbor farther
    * from the centroid (ties by vec_id). Returns
    * (vec_id, cid, dist, kept) for every input vector. The within-cluster
    * self-join shuffles both sides by cid — O(sum cluster²) candidate
    * pairs, never corpus²; pass `nc` ∝ corpus size so clusters stay
    * bounded (the oracle-pinned x30 keeps nc = NC = 8; the 10× smoke shows
    * the quadratic growth that motivates scaling nc). nc <= 0 (the
    * default) derives it from the corpus size (~[[TargetClusterSize]]-vector
    * clusters); trainSample < 1 trains the quantizer on a deterministic
    * hash-sample.
    */
  def semDedup(
      emb: DataFrame,
      tau: Double = SEMDEDUP_TAU,
      nc: Int = 0,
      trainSample: Double = 1.0): DataFrame = {
    val vi = fixedPoint(emb)
    // nc <= 0 means auto: corpus-proportional cluster count so the mean
    // cluster stays ~TargetClusterSize and the self-join stays linear in
    // the corpus. The count() is a parquet-metadata read, not a scan.
    // Oracle-pinned queries pass nc = NC explicitly (the SQL twin inlines
    // the literal), so determinism there never depends on this branch.
    val ncEff =
      if (nc > 0) nc
      else math.max(NC.toLong, emb.count() / TargetClusterSize).toInt
    val ranked = quantizerRanked(vi, trainQuantizer(vi, ncEff, trainSample))
    // materialize the assignment once: it feeds BOTH self-join sides plus
    // the final projection, and Spark re-executes repeated un-cached
    // subtrees — without this the corpus is scanned and re-ranked 3x
    // (plan-audit-visible). The cut also truncates the lineage, same
    // pattern as DedupClusters' iteration state; reliable under a session
    // checkpoint dir.
    val asg = DedupClusters.ckpt(
      ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("dist"), col("v"), col("nrm")))
    val a = asg.select(
      col("cid"), col("vec_id").as("va"), col("dist").as("da"),
      col("v").as("av"), col("nrm").as("an"))
    val b = asg.select(
      col("cid"), col("vec_id").as("vb"), col("dist").as("db"),
      col("v").as("bv"), col("nrm").as("bn"))
    val dom = a.join(b, Seq("cid"))
      .filter(col("va") =!= col("vb"))
      .withColumn("cos", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(
        col("cos") >= tau &&
          (col("db") > col("da") || (col("db") === col("da") && col("vb") > col("va"))))
      .select(col("va")).distinct()
      .withColumn("_dom", lit(1))
    asg.select(col("vec_id"), col("cid"), col("dist"))
      .join(dom, col("vec_id") === col("va"), "left")
      .select(col("vec_id"), col("cid"), col("dist"), col("_dom").isNull.as("kept"))
  }

  /** x58 PQ geometry: M subspaces of 64/M dims; codes per subspace reuse
    * [[NC]] so each oracle chain stays the familiar k-means twin.
    */
  val PqM = 4
  val PqSub: Int = 64 / PqM

  /** x58 core: product quantization (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") — split each embedding into
    * `m` subvectors and train an INDEPENDENT fixed-point k-means codebook
    * per subspace; a vector's code word is its nearest centroid per
    * subspace, giving nc^m effective cells from m·nc centroids. This is the
    * memory/recall step FAISS composes with the x13 IVF coarse quantizer
    * (IVFPQ): codes are m bytes instead of 64 floats. Columns
    * (vec_id, m, code, sqerr) — sqerr is the integer squared-L2 between the
    * subvector and its centroid (summing it over m gives the per-vector
    * reconstruction error exactly, since subspaces partition the dims).
    *
    * Scale posture (100 TB): each codebook trains like the coarse quantizer
    * (driver-resident nc × sub longs, `trainSample` hash-sample at scale —
    * NITER bounded scans of the 2-column fixed-point frame, materialized
    * once and shared by all m trainings); assignment is m broadcast joins
    * + per-row argmin, no shuffle of the corpus anywhere.
    */
  private def pqSlice(vi: DataFrame, s: Int, sub: Int): DataFrame =
    vi.select(col("vec_id"), expr(s"slice(vi, ${s * sub + 1}, $sub)").as("vi"))

  /** The m trained PQ codebooks: (subspace, centroids). Driver-resident
    * like the coarse quantizer (m × nc × sub longs).
    */
  def pqTrain(
      vi: DataFrame,
      m: Int = PqM,
      nc: Int = NC,
      trainSample: Double = 1.0): Seq[(Int, Seq[(Long, Seq[Long])])] = {
    require(m > 0 && 64 % m == 0, "m must divide the 64-dim embedding")
    val sub = 64 / m
    val sp = vi.sparkSession
    import sp.implicits._
    // FUSED training: one (s, vec_id, svi) frame carries every subspace, so
    // the seed collect and each k-means round are ONE Spark job for all m
    // codebooks instead of m independent chains of corpus scans (the same
    // per-subspace math — every window/groupBy is additionally keyed by s,
    // which the per-slice formulation kept implicit). At 100 TB this is m
    // fewer passes over the training frame per round; locally it removes
    // ~3(m-1) driver-blocking jobs per training.
    def sliced(src: DataFrame): DataFrame = src.select(
      col("vec_id"),
      posexplode(array((0 until m).map(s =>
        expr(s"slice(vi, ${s * sub + 1}, $sub)")): _*)).as(Seq("s", "svi")))
    val train =
      if (trainSample >= 1.0) vi
      else {
        val keep = math.max(1L, (trainSample * 1000).toLong)
        DedupClusters.ckpt(
          vi.filter(XHash.h60(col("vec_id").cast("string")) % 1000 < keep)
            .select("vec_id", "vi"))
      }
    val trainSl = sliced(train)
    def collectCents(df: DataFrame): Seq[(Int, Seq[(Long, Seq[Long])])] = {
      val bySub = df.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq))
        .groupBy(_._1)
      (0 until m).map(s =>
        s -> bySub.getOrElse(s, Array.empty[(Int, Long, Seq[Long])]).toSeq
          .map { case (_, cid, ci) => (cid, ci) }.sortBy(_._1))
    }
    // Seeds from the FULL frame (first nc vec_ids), like the flat trainer.
    var cents: Seq[(Int, Seq[(Long, Seq[Long])])] = collectCents(
      sliced(vi.filter(col("vec_id") < nc))
        .select(col("s"), col("vec_id").as("cid"), col("svi").as("ci")))
    for (_ <- 1 to NITER) {
      val centsDF = cents.flatMap { case (s, cs) =>
        cs.map { case (cid, ci) => (s, cid, ci) }
      }.toDF("s", "cid", "ci")
      val byDist = Window.partitionBy("s", "vec_id").orderBy(col("dist"), col("cid"))
      cents = collectCents(
        trainSl.join(broadcast(centsDF), "s")
          .withColumn("dist", graftnative.api.sqdistLong(col("svi"), col("ci")))
          .withColumn("rn", row_number().over(byDist))
          .filter(col("rn") === 1)
          .select(col("s"), col("cid"), posexplode(col("svi")).as(Seq("i", "x")))
          .groupBy("s", "cid", "i")
          .agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
          .withColumn("m", floor(col("sx").cast("double") / col("cnt")).cast("long"))
          .groupBy("s", "cid")
          .agg(transform(
            array_sort(collect_list(struct(col("i"), col("m")))),
            t => t.getField("m")).as("ci")))
    }
    cents
  }

  /** Product-quantization codes (x58): per-vector (m, code, sqerr) from m
    * independent fixed-point codebooks — m bytes/vector instead of 64
    * floats, the memory step FAISS composes with IVF.
    */
  def pqCodes(
      emb: DataFrame,
      m: Int = PqM,
      nc: Int = NC,
      trainSample: Double = 1.0): DataFrame = {
    val sub = 64 / m
    // one materialization feeds m trainings + m assignments (the repeated-
    // subtree rule — see semDedup's asg); reliable under a session
    // checkpoint dir, so a 100 TB code build survives executor loss
    val vi = DedupClusters.ckpt(fixedPoint(emb).select("vec_id", "vi"))
    pqTrain(vi, m, nc, trainSample).map { case (s, cents) =>
      quantizerRanked(pqSlice(vi, s, sub), cents)
        .filter(col("rn") === 1)
        .select(
          col("vec_id"), lit(s.toLong).as("m"),
          col("cid").as("code"), col("dist").as("sqerr"))
    }.reduce(_ unionByName _)
  }

  /** x138 machinery: IMI (inverted multi-index, Babenko & Lempitsky
    * CVPR'12) product-cell assignment — two INDEPENDENT fixed-point
    * k-means codebooks on the two vector halves; a vector's cell is the
    * PAIR (cid₀, cid₁), flattened as cid₀·nc + cid₁. nc² cells at
    * assignment cost 2·nc distance evals per vector — this is the
    * remediation for the flat coarse quantizer's O(n·nc) assignment
    * (with auto-nc ∝ corpus, flat assignment is O(n²/64); IMI reaches
    * the SAME cell count at O(n·√cells)). Returns (vec_id, cell).
    */
  def imiAssign(
      emb: DataFrame,
      nc: Int = NC,
      trainSample: Double = 1.0): DataFrame = {
    val vi = DedupClusters.ckpt(fixedPoint(emb).select("vec_id", "vi"))
    imiCellOf(vi, pqTrain(vi, 2, nc, trainSample), nc)
  }

  /** Assign `vi` (vec_id, vi) to IMI product cells under GIVEN half
    * codebooks — the frozen-codebook form [[imiAssign]] trains inline and
    * the emb-admission state classifies batches with. The two half
    * assignments compose via an INNER join on vec_id — mirroring the
    * oracle's JOIN USING(vec_id) — so a malformed assignment (a half's
    * rn=1 row missing or duplicated) drops or duplicates the row VISIBLY
    * instead of summing into a wrong-but-valid cell id (which a
    * union + groupBy/sum would do).
    */
  private def imiCellOf(
      vi: DataFrame,
      halves: Seq[(Int, Seq[(Long, Seq[Long])])],
      nc: Int): DataFrame =
    halves.map { case (s, cents) =>
      quantizerRanked(pqSlice(vi, s, 32), cents)
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as(s"c$s"))
    }.reduce(_.join(_, Seq("vec_id")))
      .select(col("vec_id"), (col("c0") * nc + col("c1")).as("cell"))

  /** x138 core: IMI CELL-HEALTH audit — the occupancy geometry of the
    * product cells in x136's currency (occupied cells, hottest cell,
    * within-cell pair mass = the self-join cost any cell-bucketed
    * consumer pays), PLUS the assignment-cost arithmetic the op exists
    * to prove: `flat_evals` = n·nc² (what a flat quantizer with the same
    * cell count pays) vs `imi_evals` = n·2nc — the nc/2-fold saving that
    * turns the x50 auto-nc assignment from O(n²/64) into O(n^1.5)-ish at
    * corpus-proportional cells. The known IMI trade (cells are a product
    * grid, so correlated halves leave many cells empty and occupancy
    * skews vs true k-means — Babenko & Lempitsky §4) is exactly what
    * n_cells/max_share measure: read them before switching the index.
    * Columns (n_vecs, n_cells, max_occ, max_share_e6, sum_pairs,
    * flat_evals, imi_evals), one row.
    *
    * Scale posture (100 TB): training is 2 sampled half-space k-means
    * chains (driver-resident codebooks, the x13 rule); assignment is two
    * broadcast argmins inside the scan; the audit is one count to
    * ≤ nc² rows. With `nc = ceil(√(n/TargetClusterSize))` (the auto
    * rule, [[imiAutoNc]]), cells ∝ corpus and per-vector cost grows only
    * as √cells. [[imiAssign]] returns the per-vector cells.
    */
  def imiCells(
      emb: DataFrame,
      nc: Int = NC,
      trainSample: Double = 1.0): DataFrame =
    imiAssign(emb, nc, trainSample)
      .groupBy("cell").agg(count(lit(1)).as("occ"))
      .agg(
        sum("occ").as("n_vecs"),
        count(lit(1)).as("n_cells"),
        max("occ").as("max_occ"),
        sum(expr("(cast(occ as decimal(38,0)) * (occ - 1)) div 2")).as("sum_pairs"))
      .withColumn("max_share_e6", expr("(1000000 * max_occ) div n_vecs"))
      .withColumn("flat_evals", expr(s"n_vecs * ${nc.toLong * nc}"))
      .withColumn("imi_evals", expr(s"n_vecs * ${2L * nc}"))
      .select("n_vecs", "n_cells", "max_occ", "max_share_e6", "sum_pairs",
        "flat_evals", "imi_evals")

  /** The auto-nc rule for IMI: per-half codebook size √(n/targetOcc), so
    * the product grid holds ~n/targetOcc cells (mean occupancy targetOcc)
    * while assignment cost per vector grows only as the square root.
    */
  def imiAutoNc(n: Long, targetOcc: Long = TargetClusterSize): Int =
    math.max(NC, math.ceil(math.sqrt(n.toDouble / targetOcc)).toInt)

  /** x59 core: ADC (asymmetric distance computation) top-k over PQ codes —
    * the search half of IVFPQ. Per query, a distance TABLE of integer
    * squared-L2 from each query subvector to every codebook centroid
    * (|q| × m × nc rows, driver-bounded, broadcast); the corpus is then
    * touched ONLY through its codes: dist(q, x) ≈ Σ_m tbl[m][code_m(x)],
    * one broadcast join on (m, code) + a per-(query, vector) sum — the
    * corpus embeddings are never read at query time, which is the entire
    * point of PQ (m bytes/vector resident instead of 64 floats). Exact
    * integers end to end, so the oracle reproduces every distance.
    * Columns (query_id, rank, neighbor_id, adc).
    */
  def pqAdcKnn(
      emb: DataFrame,
      isQuery: Column,
      k: Int = 3,
      m: Int = PqM,
      nc: Int = NC,
      trainSample: Double = 1.0): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val sub = 64 / m
    val vi = DedupClusters.ckpt(fixedPoint(emb).select("vec_id", "vi"))
    val trained = pqTrain(vi, m, nc, trainSample)
    val codes = trained.map { case (s, cents) =>
      quantizerRanked(pqSlice(vi, s, sub), cents)
        .filter(col("rn") === 1)
        .select(col("vec_id"), lit(s.toLong).as("m"), col("cid").as("code"))
    }.reduce(_ unionByName _)
    val centsDf = trained
      .flatMap { case (s, cs) => cs.map { case (cid, ci) => (s.toLong, cid, ci) } }
      .toDF("m", "code", "ci")
    val qSlices = (0 until m).map { s =>
      pqSlice(vi.filter(isQuery), s, sub)
        .select(col("vec_id").as("query_id"), lit(s.toLong).as("m"), col("vi").as("qv"))
    }.reduce(_ unionByName _)
    val tbl = qSlices.join(broadcast(centsDf), "m")
      .select(
        col("query_id"), col("m"), col("code"),
        graftnative.api.sqdistLong(col("qv"), col("ci")).as("d"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    codes.join(broadcast(tbl), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum("d").as("adc"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adc")
  }

  /** DuckDB twin of one PQ subspace's k-means chain (dims `sub`, offset
    * `s`·`sub`, suffix `_m{s}`): mirrors [[kmeansRankedSql]] with the slice
    * pushed into the `vi` CTE. Needs a `vi0 (vec_id, vfull)` CTE in scope.
    */
  private[xscale] def pqKmeansSql(s: Int, nc: Int, sub: Int): String = {
    val off = s * sub
    val p = s"_m$s"
    def iter(k: Int): String = {
      val prev = s"c${k - 1}$p"
      s"d$k$p AS (SELECT vi.vec_id, c.cid, " +
        s"list_aggregate(list_transform(generate_series(1, $sub), " +
        s"i -> (vi.vi[i] - c.ci[i]) * (vi.vi[i] - c.ci[i])), 'sum') AS dist " +
        s"FROM vi$p vi CROSS JOIN $prev c), " +
        s"a$k$p AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
        s"ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d$k$p) WHERE rn = 1), " +
        s"s$k$p AS (SELECT a.cid, t.i, SUM(vi.vi[t.i]) AS sx, COUNT(*) AS cnt " +
        s"FROM a$k$p a JOIN vi$p vi USING (vec_id) CROSS JOIN generate_series(1, $sub) AS t(i) " +
        "GROUP BY a.cid, t.i), " +
        s"c$k$p AS (SELECT cid, list(CAST(floor(sx::DOUBLE / cnt) AS BIGINT) ORDER BY i) AS ci " +
        s"FROM s$k$p GROUP BY cid)"
    }
    s"vi$p AS (SELECT vec_id, vfull[${off + 1}:${off + sub}] AS vi FROM vi0), " +
      s"c0$p AS (SELECT vec_id AS cid, vi AS ci FROM vi$p WHERE vec_id < $nc), " +
      (1 to NITER).map(iter).mkString(", ") + ", " +
      s"d$p AS (SELECT vi.vec_id, c.cid, " +
      s"list_aggregate(list_transform(generate_series(1, $sub), " +
      s"i -> (vi.vi[i] - c.ci[i]) * (vi.vi[i] - c.ci[i])), 'sum') AS dist " +
      s"FROM vi$p vi CROSS JOIN c$NITER$p c), " +
      s"r0$p AS (SELECT vec_id, cid, dist, " +
      s"ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d$p)"
  }

  /** x60 core: ADC shortlist + exact rerank — the production IVFPQ search
    * (FAISS's refine step). PQ codes alone rank coarsely (32 bits/vector;
    * recall@3 ~0.2 on near-uniform synthetic embeddings, PQ's worst case),
    * so the shortlist of `shortlist` ADC candidates per query is re-scored
    * with the EXACT fixed-point squared-L2 and re-ranked. Full vectors are
    * read for shortlist × |q| rows only — the corpus scan stays code-only.
    * Columns (query_id, rank, neighbor_id, sqdist).
    */
  def pqAdcRerank(
      emb: DataFrame,
      isQuery: Column,
      k: Int = 3,
      shortlist: Int = 50,
      m: Int = PqM,
      nc: Int = NC,
      trainSample: Double = 1.0): DataFrame = {
    val vi = fixedPoint(emb).select("vec_id", "vi")
    val cand = pqAdcKnn(emb, isQuery, shortlist, m, nc, trainSample)
      .select("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("sqdist"), col("neighbor_id"))
    cand
      .join(vi.select(col("vec_id").as("query_id"), col("vi").as("qvi")), "query_id")
      .join(vi.select(col("vec_id").as("neighbor_id"), col("vi").as("nvi")), "neighbor_id")
      .withColumn("sqdist", graftnative.api.sqdistLong(col("qvi"), col("nvi")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sqdist")
  }

  /** x68 core: true IVFPQ (Jégou et al. 2011 — the FAISS IndexIVFPQ
    * architecture), composing the x13 coarse quantizer with the x58-x60
    * PQ machinery. The coarse quantizer routes every vector to one of
    * `ncCoarse` inverted lists; each vector then stores only its cell id
    * plus m PQ codes of its RESIDUAL (vector minus cell centroid —
    * residuals concentrate near zero, which is why FAISS quantizes them
    * instead of raw vectors; one codebook set is shared across cells,
    * FAISS's default). Search: per query, rank cells by exact centroid
    * distance, probe the `nprobe` nearest, ADC-scan ONLY those cells'
    * codes against a per-(query, cell) residual distance table, shortlist
    * by ADC, and exactly rerank the shortlist on full vectors.
    *
    * Scale posture (100 TB): the corpus is resident as cid + m codes per
    * vector; probing bounds the candidate scan to ~nprobe/ncCoarse of the
    * corpus (the decisive difference from x59's full-corpus ADC); both
    * centroid sets and the |q|·nprobe·m·ncPq integer distance table are
    * driver-bounded broadcasts; full vectors are read only for the
    * shortlist × |q| rerank rows. All arithmetic is fixed-point, so the
    * oracle re-derives every assignment bit-exactly. Columns
    * (query_id, rank, neighbor_id, sqdist).
    */
  def ivfPqKnn(
      emb: DataFrame,
      isQuery: Column,
      k: Int = 3,
      nprobe: Int = NPROBE,
      shortlist: Int = 50,
      m: Int = PqM,
      ncCoarse: Int = NC,
      ncPq: Int = NC,
      trainSample: Double = 1.0): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val sub = 64 / m
    val vi = DedupClusters.ckpt(fixedPoint(emb).select("vec_id", "vi"))
    val coarse = trainQuantizer(vi, ncCoarse, trainSample)
    val cr = quantizerRanked(vi, coarse)
    // corpus residuals against the assigned cell's centroid (ci rides on
    // the rn = 1 row from quantizerRanked's broadcast join)
    val res = DedupClusters.ckpt(
      cr.filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"),
          expr("zip_with(vi, ci, (x, c) -> x - c)").as("vi")))
    val trainedR = pqTrain(res.select("vec_id", "vi"), m, ncPq, trainSample)
    val codes = trainedR.map { case (s2, cents) =>
      quantizerRanked(pqSlice(res, s2, sub), cents)
        .filter(col("rn") === 1)
        .select(col("vec_id"), lit(s2.toLong).as("m"), col("cid").as("code"))
    }.reduce(_ unionByName _)
    val cellOf = res.select("vec_id", "cid")
    // probe rows: one per (query, probed cell), with the query's residual
    // against THAT cell's centroid — ADC under each probed cell uses the
    // cell-local residual, exactly as FAISS does
    val qres = cr.filter(isQuery).filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cid"),
        expr("zip_with(vi, ci, (x, c) -> x - c)").as("qr"))
    val pqCentDf = trainedR
      .flatMap { case (s2, cs) => cs.map { case (cid, ci) => (s2.toLong, cid, ci) } }
      .toDF("m", "code", "ci")
    val qSlices = (0 until m).map { s2 =>
      qres.select(col("query_id"), col("cid"), lit(s2.toLong).as("m"),
        expr(s"slice(qr, ${s2 * sub + 1}, $sub)").as("qs"))
    }.reduce(_ unionByName _)
    val tbl = qSlices.join(broadcast(pqCentDf), "m")
      .select(col("query_id"), col("cid"), col("m"), col("code"),
        graftnative.api.sqdistLong(col("qs"), col("ci")).as("d"))
    // the (cid, m, code) join keys restrict the corpus side to probed
    // cells before any aggregation — the inverted-list scan
    val adc = codes.join(cellOf, "vec_id")
      .join(broadcast(tbl), Seq("cid", "m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("d").as("adc"))
    val bySl = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    val sl = adc.withColumn("srn", row_number().over(bySl))
      .filter(col("srn") <= shortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val byExact = Window.partitionBy("query_id").orderBy(col("sqdist"), col("neighbor_id"))
    sl
      .join(vi.select(col("vec_id").as("query_id"), col("vi").as("qvi")), "query_id")
      .join(vi.select(col("vec_id").as("neighbor_id"), col("vi").as("nvi")), "neighbor_id")
      .withColumn("sqdist", graftnative.api.sqdistLong(col("qvi"), col("nvi")))
      .withColumn("rank", row_number().over(byExact).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sqdist")
  }

  /** Per-vector total PQ quantization error: assign each residual's m
    * slices to the given codebooks and sum the winning squared distances.
    * Columns (vec_id, qerr).
    */
  private def pqQerr(
      res: DataFrame,
      trained: Seq[(Int, Seq[(Long, Seq[Long])])],
      sub: Int): DataFrame =
    trained.map { case (s, cents) =>
      quantizerRanked(pqSlice(res, s, sub), cents)
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("dist"))
    }.reduce(_ unionByName _)
      .groupBy("vec_id")
      .agg(sum("dist").as("qerr"))

  /** x79 core: incremental IVFPQ index maintenance — ADD a batch of new
    * vectors to an existing index without retraining anything, x74's
    * admission posture applied to ANN serving: the coarse centroids and
    * PQ codebooks are FROZEN artifacts (trained on the base corpus); each
    * arriving vector is assigned to its nearest existing cell, its
    * residual is coded with the existing codebooks, and the audit compares
    * per-cell quantization error of the additions against the base — the
    * drift signal that tells an index owner when accumulated adds justify
    * a retrain (FAISS's add-vs-train distinction). `batch` carries
    * (vec_id, vi) fixed-point vectors. Columns
    * (cid, n_base, n_add, base_qerr, add_qerr) — qerr sums are integer
    * squared-L2, so rising add_qerr/n_add vs base_qerr/n_base per cell IS
    * the drift measurement.
    *
    * Scale posture (100 TB): the index add is the cheap path by
    * construction — the batch never touches the corpus (both quantizer
    * joins are against driver-resident broadcast centroids; zero shuffle
    * beyond the |cells|-row rollup), and the base-side statistics are
    * computed once and reusable across daily adds. Nothing re-clusters,
    * nothing re-codes the existing corpus.
    */
  def ivfPqAdd(
      emb: DataFrame,
      batch: DataFrame,
      m: Int = PqM,
      ncCoarse: Int = NC,
      ncPq: Int = NC,
      trainSample: Double = 1.0): DataFrame = {
    val sub = 64 / m
    val vi = DedupClusters.ckpt(fixedPoint(emb).select("vec_id", "vi"))
    val coarse = trainQuantizer(vi, ncCoarse, trainSample)
    def residuals(frame: DataFrame): DataFrame =
      quantizerRanked(frame, coarse)
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"),
          expr("zip_with(vi, ci, (x, c) -> x - c)").as("vi"))
    val res = DedupClusters.ckpt(residuals(vi))
    val trained = pqTrain(res.select("vec_id", "vi"), m, ncPq, trainSample)
    val bres = residuals(batch)
    def cellStats(frame: DataFrame, nCol: String, eCol: String): DataFrame =
      frame.join(pqQerr(frame, trained, sub), "vec_id")
        .groupBy("cid")
        .agg(count(lit(1)).as(nCol), sum("qerr").as(eCol))
    cellStats(res, "n_base", "base_qerr")
      .join(cellStats(bres, "n_add", "add_qerr"), Seq("cid"), "full_outer")
      .select(col("cid"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_add"), lit(0L)).as("n_add"),
        coalesce(col("base_qerr"), lit(0L)).as("base_qerr"),
        coalesce(col("add_qerr"), lit(0L)).as("add_qerr"))
  }

  /** The EMBEDDING leg of daily-ingest admission (x74's posture on the
    * vector side): flag each batch vector with a cosine >= `tau` neighbor
    * in the corpus, using a coarse quantizer trained on the CORPUS as the
    * frozen candidate structure — batch vectors are assigned to their
    * nearest existing cell (broadcast centroids, zero corpus shuffle) and
    * compared only against that cell's corpus members, x30's within-cell
    * cosine currency turned batch-vs-corpus. Catches what the text leg is
    * blind to: rewordings of corpus content whose embeddings still
    * coincide. Columns (vec_id, near_emb) for every batch vector.
    *
    * Scale posture (100 TB): the corpus contributes one assignment pass
    * (at scale, persist it beside the corpus like the sig sidecar and
    * train on a sample — `trainSample`); the batch side is broadcast into
    * the cell join; candidates are O(batch x mean cell), never
    * batch x corpus. Single-cell probe (rn = 1 both sides) is the
    * oracle-exact form; recall at the cell boundary is the same IVF trade
    * x13 prices — raise recall by probing more cells on the BATCH side
    * only, which multiplies candidates by nprobe, not by corpus.
    */
  def admitEmbedding(
      corpusEmb: DataFrame,
      batchEmb: DataFrame,
      tau: Double = SEMDEDUP_TAU,
      nc: Int = 0,
      trainSample: Double = 1.0): DataFrame =
    admitEmbeddingFrame(corpusEmb, batchEmb, tau, nc, trainSample)
      .select("vec_id", "near_emb")

  /** [[admitEmbedding]] keeping the full state-shaped frame — columns
    * (vec_id, near_emb, cid, cv, cn) — so callers can run the intra-batch
    * strict pass ([[admitEmbStrictLosers]], which needs each vector's cell
    * and norm) or append the admitted vectors to a persisted state.
    *
    * The live path picks its cell engine the way the bootstrap does: flat
    * coarse cells when `nc` is explicit or the corpus is within
    * [[FlatEmbBoundary]]; IMI product cells past it (auto-nc makes the
    * flat assignment n·nc = n²/64 distance evals — the measured 200k-vector
    * abort that [[admitEmbeddingBootstrapAuto]] already routes around; the
    * live classify-without-a-sidecar path owes the same remediation).
    */
  def admitEmbeddingFrame(
      corpusEmb: DataFrame,
      batchEmb: DataFrame,
      tau: Double = SEMDEDUP_TAU,
      nc: Int = 0,
      trainSample: Double = 1.0): DataFrame = {
    val n = if (nc > 0) 0L else corpusEmb.count()
    if (nc == 0 && n > FlatEmbBoundary) {
      val cfp = DedupClusters.ckpt(fixedPoint(corpusEmb))
      val ncEff = imiAutoNc(n)
      val halves = pqTrain(cfp.select("vec_id", "vi"), 2, ncEff, trainSample)
      val casg = DedupClusters.ckpt(
        imiCellOf(cfp.select("vec_id", "vi"), halves, ncEff)
          .join(cfp.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
          .select(col("vec_id").as("cv_id"), col("cell").as("cid"),
            col("v").as("cv"), col("nrm").as("cn")))
      val bfp = DedupClusters.ckpt(fixedPoint(batchEmb))
      val basg = DedupClusters.ckpt(
        imiCellOf(bfp.select("vec_id", "vi"), halves, ncEff)
          .join(bfp.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
          .select(col("vec_id"), col("cell").as("cid"),
            col("v").as("qv"), col("nrm").as("qn")))
      admitEmbCompare(casg, basg, tau)
    } else {
      val cvi = fixedPoint(corpusEmb)
      val ncEff = if (nc > 0) nc else math.max(NC.toLong, n / TargetClusterSize).toInt
      val cents = trainQuantizer(cvi, ncEff, trainSample)
      val casg = DedupClusters.ckpt(
        quantizerRanked(cvi, cents).filter(col("rn") === 1)
          .select(col("vec_id").as("cv_id"), col("cid"),
            col("v").as("cv"), col("nrm").as("cn")))
      admitEmbDecide(casg, cents, batchEmb, tau)
    }
  }

  /** The EMBEDDING analog of `Dedup.admitStrict` — the intra-batch blind
    * spot one level down the signal stack: two REWORDINGS of the same
    * content arriving in one batch both clear the batch-vs-corpus emb rule
    * (neither is near the corpus) and would both enter the corpus forever.
    * Run within-cell cosine ≥ `tau` pairs over the FINALLY-admitted batch
    * vectors' state rows (`admFrame` = (vec_id, cid, cv, cn), the
    * already-computed [[admitEmbeddingFrame]]/[[admitEmbeddingSigs]]
    * columns — zero extra embedding access), connected components, one
    * survivor (min id) per cluster; returns the LOSER ids, one column
    * `vec_id`, for the caller to re-status as `near_dup_batch_emb`.
    *
    * Recall caveat: pairs straddling a cell boundary are missed — the same
    * single-probe IVF trade as the corpus leg (x13's pricing); batch-side
    * multi-probe raises recall by nprobe × batch, never corpus. Scale:
    * batch-sized self-join bucketed by cell + CC on the (tiny) pair graph.
    * The composition of [[admitEmbStrictEdges]] and
    * [[DedupClusters.minIdLosers]].
    */
  def admitEmbStrictLosers(
      admFrame: DataFrame,
      tau: Double = SEMDEDUP_TAU): DataFrame =
    DedupClusters.minIdLosers(admitEmbStrictEdges(admFrame, tau))
      .select(col("doc_id").as("vec_id"))

  /** The edge half of [[admitEmbStrictLosers]]: the within-cell pairs
    * `(a, b)`, a < b, of `frame` (vec_id, cid, cv, cn) at cosine ≥ `tau`.
    * A pair qualifies on its two rows alone, so the edges among any subset
    * of the vectors are exactly these edges with both ends in that subset.
    */
  def admitEmbStrictEdges(frame: DataFrame, tau: Double = SEMDEDUP_TAU): DataFrame = {
    val a = frame.select(
      col("vec_id").as("va"), col("cid"), col("cv").as("qa"), col("cn").as("na"))
    val b = frame.select(
      col("vec_id").as("vb"), col("cid"), col("cv").as("qb"), col("cn").as("nb"))
    a.join(b, Seq("cid"))
      .filter(col("va") < col("vb"))
      .withColumn("cos", dot(col("qa"), col("qb")) / (col("na") * col("nb")))
      .filter(col("cos") >= tau)
      .select(col("va").as("a"), col("vb").as("b"))
      .distinct()
  }

  /** The decision core shared by [[admitEmbedding]] (live corpus) and
    * [[admitEmbeddingSigs]] (frozen state): assign the batch to the given
    * centroids, compare within-cell against the corpus assignment frame
    * (cv_id, cid, cv, cn). Returns every batch vector with its cell and
    * state-shaped columns so a caller can APPEND admitted vectors to the
    * state — columns (vec_id, near_emb, cid, cv, cn).
    */
  private def admitEmbDecide(
      casg: DataFrame,
      cents: Seq[(Long, Seq[Long])],
      batchEmb: DataFrame,
      tau: Double): DataFrame = {
    val basg = DedupClusters.ckpt(
      quantizerRanked(fixedPoint(batchEmb), cents).filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("v").as("qv"), col("nrm").as("qn")))
    admitEmbCompare(casg, basg, tau)
  }

  /** The within-cell compare shared by both cell engines: `basg` is the
    * batch assignment (vec_id, cid, qv, qn) under WHATEVER cell scheme
    * `casg` (cv_id, cid, cv, cn) uses — flat coarse cells or IMI product
    * cells; the decision is exact full-precision cosine either way.
    *
    * ID-SPACE PRECONDITION (all admit surfaces): corpus/state ids and
    * batch vec ids must be GLOBALLY UNIQUE across each other — the
    * `cv_id =!= vec_id` retry exclusion relies on it; a batch doc that
    * legitimately reused a corpus id would silently skip a genuine
    * near-dup match against that state row. Deployments without disjoint
    * id spaces must key state by a content hash, not the raw id.
    */
  private def admitEmbCompare(casg: DataFrame, basg: DataFrame, tau: Double): DataFrame = {
    // cv_id =!= vec_id: a doc must never flag against its OWN state row.
    // Normal runs never hit this (corpus and batch id spaces are
    // disjoint), but a crash-window RETRY does: the assign append lands
    // before the sig append (the crash-ordering rule), so the retried
    // batch finds its own vectors in the state at cosine 1 and would
    // re-status admitted docs near_dup_corpus_emb — permanently dropping
    // them from the output and leaking their text keys. Excluding
    // self-ids restores replay idempotence at zero normal-path cost.
    val near = broadcast(basg).join(casg, "cid")
      .filter(col("cv_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .filter(col("cos") >= tau)
      .select("vec_id").distinct()
      .withColumn("hit", lit(true))
    basg
      .join(near, Seq("vec_id"), "left")
      .select(
        col("vec_id"), coalesce(col("hit"), lit(false)).as("near_emb"),
        col("cid"), col("qv").as("cv"), col("qn").as("cn"))
  }

  /** Bootstrap the FROZEN embedding-admission state at `dir` — the emb
    * twin of the text sig sidecar: `dir/centroids` (cid, ci — the
    * corpus-trained coarse quantizer, x79's frozen-artifact rule) and
    * `dir/assign` (cv_id, cid, cv, cn — every corpus vector's cell,
    * full-precision vector and norm). One corpus pass; afterwards
    * [[admitEmbeddingSigs]] classifies every batch with ZERO corpus
    * embedding access.
    */
  def admitEmbeddingBootstrap(
      corpusEmb: DataFrame,
      dir: String,
      nc: Int = 0,
      trainSample: Double = 1.0): Unit = {
    val sp = corpusEmb.sparkSession
    import sp.implicits._
    val cvi = fixedPoint(corpusEmb)
    val ncEff =
      if (nc > 0) nc
      else math.max(NC.toLong, corpusEmb.count() / TargetClusterSize).toInt
    val cents = trainQuantizer(cvi, ncEff, trainSample)
    requireSeeded(cents.nonEmpty, ncEff)
    // assign first, centroids LAST: the centroids table is the commit
    // marker callers probe for state existence, so a bootstrap that dies
    // mid-assign leaves no marker and retries cleanly (a marker-first
    // order left a half-state that LOOKED bootstrapped — observed when
    // the flat 100x bootstrap aborted between the two writes)
    quantizerRanked(cvi, cents).filter(col("rn") === 1)
      .select(col("vec_id").as("cv_id"), col("cid"),
        col("v").as("cv"), col("nrm").as("cn"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/assign")
    cents.toDF("cid", "ci").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/centroids")
  }

  /** Both bootstraps seed k-means from the corpus's first `nc` vec_ids
    * (the rule the DuckDB oracle twins pin), so a corpus whose ids all sit
    * at or above `nc` trains NO centroid — and would write an empty state
    * that every later batch passes unflagged. Fail before any state file
    * is written.
    */
  private def requireSeeded(seeded: Boolean, nc: Int): Unit =
    require(seeded,
      s"emb bootstrap: no corpus vec_id is below nc = $nc, so k-means has no " +
        "seed and the state would be empty (every batch would pass the emb leg " +
        "unflagged); number the corpus vectors from 0")

  /** The corpus size past which the FLAT coarse quantizer's bootstrap
    * assignment is the wrong tool: with auto-nc = n/TargetClusterSize the
    * assignment is n·nc = n²/64 distance evals, carrying full vectors
    * through the rank shuffle (measured abort at 200k vectors on the 100×
    * smoke). Past the boundary, bootstrap on IMI product cells instead —
    * x138's remediation: the same ~n/64 cells at O(n·√cells) assignment.
    *
    * NOT the same knob as [[Dedup.NarrowSimhashBoundary]], though both are
    * numerically 1e5: this one prices the flat quantizer's ASSIGNMENT cost
    * (n·nc evals, measured as a 200k-vector bootstrap abort), that one
    * prices narrow simhash's BLOCK CAPACITY (bucketed self-join candidate
    * mass — SURVEY §7.4). They drift independently if TargetClusterSize
    * or the simhash K/B/R change — do not fold them into one constant.
    */
  val FlatEmbBoundary = 100000L

  /** [[admitEmbeddingBootstrap]] on IMI PRODUCT CELLS — the form that
    * survives corpus-proportional cell counts (x138): two half-space
    * codebooks (per-half nc = [[imiAutoNc]] by default), corpus assigned
    * at 2·nc evals/vector, state = `dir/halves` + `dir/meta` (the cell
    * arithmetic's nc) + `dir/assign`. The known IMI trade (product-grid
    * occupancy skew, x138's n_cells/max_share) applies to cell geometry
    * only — the admission decision stays exact full-precision cosine
    * within the cell.
    */
  def admitEmbeddingBootstrapImi(
      corpusEmb: DataFrame,
      dir: String,
      nc: Int = 0,
      trainSample: Double = 1.0): Unit = {
    val sp = corpusEmb.sparkSession
    import sp.implicits._
    val fp = DedupClusters.ckpt(fixedPoint(corpusEmb))
    val ncEff = if (nc > 0) nc else imiAutoNc(corpusEmb.count())
    val halves = pqTrain(fp.select("vec_id", "vi"), 2, ncEff, trainSample)
    requireSeeded(halves.forall(_._2.nonEmpty), ncEff)
    // assign + meta first, halves LAST — the commit-marker order (see
    // admitEmbeddingBootstrap): existence probes key on the halves table
    imiCellOf(fp.select("vec_id", "vi"), halves, ncEff)
      .join(fp.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .select(col("vec_id").as("cv_id"), col("cell").as("cid"),
        col("v").as("cv"), col("nrm").as("cn"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/assign")
    Seq(ncEff.toLong).toDF("nc")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/meta")
    halves.flatMap { case (s, cs) => cs.map { case (cid, ci) => (s.toLong, cid, ci) } }
      .toDF("m", "code", "ci")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/halves")
  }

  /** Bootstrap with the cell engine chosen by corpus size — flat coarse
    * cells within [[FlatEmbBoundary]] (best geometry), IMI product cells
    * past it (the only bootstrap that survives corpus-proportional cell
    * counts). The same auto-boundary pattern as `Dedup.textLegFor`;
    * `Cli admit --esigs` uses this. Costs one count() (parquet metadata).
    * [[admitEmbeddingSigs]] then classifies every batch with zero
    * corpus-embedding access — the emb twin of `Dedup.dedupSignatures`.
    */
  def admitEmbeddingBootstrapAuto(
      corpusEmb: DataFrame,
      dir: String,
      trainSample: Double = 1.0): Unit =
    if (corpusEmb.count() > FlatEmbBoundary)
      admitEmbeddingBootstrapImi(corpusEmb, dir,
        trainSample = trainSample)
    else
      admitEmbeddingBootstrap(corpusEmb, dir,
        trainSample = trainSample)

  /** Emb-state COMPACTION — the embedding analog of
    * `Dedup.compactSignatures`, closing the same two drift modes for the
    * `assign` table of a persisted emb-admission state: (1) docs REMOVED
    * by a later re-filter leave stale vectors behind that keep voting
    * `near_dup_corpus_emb` — tomorrow's rewording of deleted content is
    * rejected against vectors the corpus no longer has; (2) a retried
    * append lands a vector twice (identical rows — harmless to the
    * decision, paid on every state scan). Keeps one assign row per cv_id
    * still in `live` (column `vec_id` — an ID projection of the live
    * corpus, never its embeddings). Same identity model as the text
    * sidecar (ids name immutable content; revision = remove + re-admit
    * under a new id). Centroids/halves are untouched — compaction never
    * retrains (x79's add-vs-train rule).
    */
  def compactEmbAssign(assign: DataFrame, live: DataFrame): DataFrame =
    graft.lake.Lake.dedupKeepFirst(
      assign.join(live.select(col("vec_id").as("cv_id")), Seq("cv_id"), "left_semi"),
      Seq("cv_id"), Seq("cid"))

  /** [[admitEmbedding]] against the PERSISTED state written by
    * [[admitEmbeddingBootstrap]] (flat centroids) or
    * [[admitEmbeddingBootstrapImi]] (half codebooks) — the flavor is
    * detected from the state layout; the corpus embeddings are never read
    * (codebooks are a driver-bounded collect, the assignment a parquet
    * scan of state rows). Returns (vec_id, near_emb, cid, cv, cn) so the
    * caller can append the finally-admitted vectors' rows to
    * `dir/assign`, keeping tomorrow's rewording of today's admission
    * visible — append-only like the text sidecar; the codebooks stay
    * frozen (retrain = re-bootstrap, the add-vs-train distinction x79
    * audits). Every state table is read with the schema its bootstrap
    * wrote, so no read runs a footer-inference job.
    */
  def admitEmbeddingSigs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batchEmb: DataFrame,
      tau: Double = SEMDEDUP_TAU): DataFrame = {
    def read(name: String, schema: StructType) = spark.read.schema(schema).parquet(s"$dir/$name")
    val casg = read("assign", embAssignSchema(batchEmb.schema("vec_id").dataType))
    // layout self-description probe through Hadoop FileSystem (NOT
    // java.io.File): on HDFS/S3 a local-file probe always answers false,
    // mis-detecting an IMI state as flat and dying on the missing
    // `centroids` table — the same scheme-awareness the lake code has
    val halvesPath = new org.apache.hadoop.fs.Path(s"$dir/halves")
    val hfs = halvesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(halvesPath)) {
      val nc = read("meta", EmbMetaSchema).collect()(0).getLong(0).toInt
      val halves = read("halves", EmbHalvesSchema).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1), r.getSeq[Long](2).toSeq))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (s, rows) => (s, rows.map(r => (r._2, r._3)).toSeq.sortBy(_._1)) }
      val fp = DedupClusters.ckpt(fixedPoint(batchEmb))
      val basg = DedupClusters.ckpt(
        imiCellOf(fp.select("vec_id", "vi"), halves, nc)
          .join(fp.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
          .select(col("vec_id"), col("cell").as("cid"),
            col("v").as("qv"), col("nrm").as("qn")))
      admitEmbCompare(casg, basg, tau)
    } else {
      val cents = read("centroids", EmbCentroidsSchema).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq.sortBy(_._1)
      admitEmbDecide(casg, cents, batchEmb, tau)
    }
  }

  /** The schemas of the emb-admission state's tables as the bootstraps
    * write them: `assign` (its `cv_id` has the type of the corpus vec ids,
    * the batch's too), the flat state's `centroids`, and the IMI state's
    * `meta` and `halves`.
    */
  private[graft] def embAssignSchema(idType: DataType): StructType =
    StructType(Seq(StructField("cv_id", idType), StructField("cid", LongType),
      StructField("cv", ArrayType(DoubleType)), StructField("cn", DoubleType)))
  private[graft] val EmbCentroidsSchema = StructType.fromDDL("cid BIGINT, ci ARRAY<BIGINT>")
  private[graft] val EmbMetaSchema = StructType.fromDDL("nc BIGINT")
  private[graft] val EmbHalvesSchema = StructType.fromDDL("m BIGINT, code BIGINT, ci ARRAY<BIGINT>")

  /** x85 core: label-RETRIEVAL evaluation of the embedding space — the
    * metric an embedding (or a quantization of it) is judged by before an
    * ANN index ships: for each query vector, rank the corpus by exact
    * fixed-point squared-L2 and find the rank of the first SAME-label
    * vector; per label report reciprocal-rank mass (Σ 1e6 div first_rank —
    * integer div per query BEFORE the sum keeps it order-independent and
    * cross-engine exact) and hits@3 / hits@10. Columns
    * (label, n_queries, mrr_sum_e6, hit3, hit10).
    *
    * Scale posture (100 TB): eval query sets are small by nature — the
    * queries broadcast and the corpus is scanned once (x06's shape); the
    * per-query window is |q|-bounded. Production search runs x68; THIS op
    * measures what that index is serving.
    */
  def labelRetrieval(emb: DataFrame, isQuery: Column): DataFrame = {
    val v = fixedPoint(emb)
      .join(emb.select(col("vec_id"), col("label").cast("long").as("label")), "vec_id")
      .select("vec_id", "vi", "label")
    val q = v.filter(isQuery)
      .select(col("vec_id").as("qid"), col("vi").as("qv"), col("label").as("qlabel"))
    val c = v.filter(!isQuery)
      .select(col("vec_id").as("cid2"), col("vi").as("cv"), col("label").as("clabel"))
    val byDist = Window.partitionBy("qid").orderBy(col("dist"), col("cid2"))
    broadcast(q).crossJoin(c)
      .withColumn("dist", graftnative.api.sqdistLong(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(byDist))
      .filter(col("clabel") === col("qlabel"))
      .groupBy("qid", "qlabel")
      .agg(min("rnk").as("fr"))
      .groupBy(col("qlabel").as("label"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(expr("1000000 div fr")).as("mrr_sum_e6"),
        sum(when(col("fr") <= 3, 1L).otherwise(0L)).as("hit3"),
        sum(when(col("fr") <= 10, 1L).otherwise(0L)).as("hit10"))
  }

  /** x65 core: dimension-truncation fidelity — the Matryoshka (Kusupati
    * et al. 2022) deployment audit: how much of the full-dimension cosine
    * structure survives when vectors are truncated to their first d'
    * dimensions? Over the exact top-k pairs at FULL dims, per prefix
    * length d': the summed |cos_full − cos_prefix| (e4 fixed-point —
    * per-pair rounding to an integer BEFORE the sum keeps the aggregate
    * order-independent and cross-engine exact) and the number of queries
    * whose full-dim best neighbor is still ranked first under the prefix
    * cosine. Columns (dims, n_pairs, sum_absdiff_e4, top1_preserved).
    * The decision input for serving truncated embeddings (cheaper ANN
    * memory) without re-embedding the corpus.
    *
    * Scale posture (100 TB): the expensive part is the exact top-k
    * (x06's broadcast-query one-scan shape — or feed the pairs from x13/
    * x60 instead); the prefix sweep itself touches only |q|·k pairs.
    */
  def matryoshkaFidelity(
      emb: DataFrame,
      isQuery: Column,
      dims: Seq[Int] = Seq(8, 16, 32, 64),
      k: Int = 3): DataFrame = {
    val top = knnBrute(emb, isQuery, k)
    val vn = withNorm(emb).select(col("vec_id"), col("v"))
    // materialize once: every prefix leg reads the same |q|·k joined pairs,
    // and without the cut each leg re-runs the whole exact top-k upstream
    // (the repeated-subtree rule; plan-audit-visible)
    val j = DedupClusters.ckpt(
      top
        .join(vn.select(col("vec_id").as("query_id"), col("v").as("qv")), "query_id")
        .join(vn.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), "neighbor_id"))
    def cos(a: Column, b: Column): Column =
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    val legs = dims.map { d =>
      val qs = expr(s"slice(qv, 1, $d)")
      val ns = expr(s"slice(nv, 1, $d)")
      j.select(
        lit(d.toLong).as("dims"), col("query_id"), col("rank"), col("neighbor_id"),
        cos(col("qv"), col("nv")).as("cf"), cos(qs, ns).as("cp"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy("dims", "query_id").orderBy(col("cp").desc, col("neighbor_id"))
    legs
      .withColumn("prn", row_number().over(w))
      .groupBy("dims")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(expr("CAST(round(abs(cf - cp) * 10000, 0) AS BIGINT)")).as("sum_absdiff_e4"),
        sum(when(col("rank") === 1 && col("prn") === 1, 1L).otherwise(0L)).as("top1_preserved"))
      .orderBy("dims")
  }

  /** x41 core: top-k most-similar vectors with a DIFFERENT label per query
    * (contrastive hard negatives). Broadcast-query + one corpus scan, the
    * x06 shape with the label inequality pushed into the join. Columns
    * (query_id, q_label, rank, neighbor_id, n_label, cos4).
    */
  def hardNegatives(emb: DataFrame, isQuery: Column, k: Int = 3): DataFrame = {
    val e = withNorm(emb).join(emb.select(col("vec_id"), col("label")), "vec_id")
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"),
      col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q)
      .join(c, col("n_label") =!= col("q_label"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        col("query_id"), col("q_label").cast("long").as("q_label"), col("rank"),
        col("neighbor_id"), col("n_label").cast("long").as("n_label"),
        round(col("cos"), 4).as("cos4"))
  }

  /** x46 core: the label-centroid similarity matrix — per-label fixed-point
    * mean embedding (floor(sum/n), the x13 centroid arithmetic, so both
    * engines derive bit-identical centroids), then cosine between every
    * label pair. The diagnostic behind hard-negative curricula (x41):
    * close centroids = confusable classes that deserve more negatives.
    * Columns (label_a, label_b, n_a, n_b, cos4). The centroid table is
    * |labels| rows — driver-size — so the pair join is trivial no matter
    * the corpus; the corpus-scale work is ONE aggregation over (label, dim).
    */
  def labelCentroidSim(emb: DataFrame): DataFrame = {
    val vi = fixedPoint(emb)
      .join(emb.select(col("vec_id"), col("label").cast("long").as("label")), "vec_id")
    val sums = vi.select(col("label"), posexplode(col("vi")).as(Seq("i", "x")))
      .groupBy("label", "i")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .withColumn("m", floor(col("sx").cast("double") / col("n")).cast("long"))
    val cents = sums.groupBy("label")
      .agg(
        max("n").as("n"),
        transform(
          array_sort(collect_list(struct(col("i"), col("m")))),
          t => t.getField("m").cast("double")).as("ci"))
    val a = cents.select(col("label").as("label_a"), col("n").as("n_a"), col("ci").as("ca"))
    val b = cents.select(col("label").as("label_b"), col("n").as("n_b"), col("ci").as("cb"))
    // centroid components are < 2^21, so every dot/norm term is an exact
    // integer below 2^53 — double arithmetic is exact, cross-engine-stable
    a.join(b, col("label_a") < col("label_b"))
      .withColumn(
        "cos4",
        round(
          dot(col("ca"), col("cb")) /
            (sqrt(dot(col("ca"), col("ca"))) * sqrt(dot(col("cb"), col("cb")))), 4))
      .select("label_a", "label_b", "n_a", "n_b", "cos4")
  }

  /** Exact top-k neighbors by cosine for the rows matching `isQuery`:
    * query side broadcast, one corpus scan. Columns
    * (query_id, rank, neighbor_id).
    */
  def knnBrute(emb: DataFrame, isQuery: Column, k: Int = 3): DataFrame = {
    val e = withNorm(emb)
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** x98 core: HUBNESS audit of the embedding space — the in-degree
    * distribution of the k-NN graph (Radovanović et al. JMLR 2010:
    * N_k(x) = how often x appears in other points' top-k; a skewed N_k
    * means a few "hub" vectors dominate every shortlist and many
    * "antihubs" are never retrieved — a pathology that silently degrades
    * dedup and RAG recall). Takes ANY (query_id, rank, neighbor_id)
    * frame — [[knnBrute]] as the exact fixture-scale baseline, the LSH /
    * IVF / ADC graphs (x07/x13/x59) as the 100 TB path, since hubness is
    * a property of the graph actually used downstream. Columns
    * (in_degree, n_vecs) — including in_degree = 0, the antihub count.
    *
    * Scale posture (100 TB): in-degree is one keyed count over the k·|q|
    * edge list (map-side combinable); the zero-degree completion is a
    * keyed left join on vec_id (shuffle bounded by |corpus| rows of two
    * longs); the final distribution rollup has at most k·|q| distinct
    * degrees — tiny. No window over the corpus, no all-pairs anywhere
    * beyond what the chosen graph generator already did.
    */
  def hubnessFromKnn(knn: DataFrame, emb: DataFrame): DataFrame = {
    val indeg = knn.groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    emb.select("vec_id")
      .join(indeg, Seq("vec_id"), "left")
      .na.fill(0L, Seq("in_degree"))
      .groupBy("in_degree")
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** x106 core: embedding NORM AUDIT — the QA gate an embedding table
    * passes before any ANN index or cosine dedup is built over it: per
    * source (vec_id ↔ doc_id), the vector count, zero-norm count (a zero
    * vector has no cosine direction — every cosine op here divides by the
    * norm, so one zero vector silently NaN-poisons its comparisons),
    * degenerate-dim count (vectors whose dims are all equal — the
    * constant-embedding failure mode of a broken encoder batch), and the
    * norm min/max/sum in e6 fixed point (floor per row, so every
    * aggregate is an order-independent integer — the x35 no-libm rule;
    * min/floor commute). Vectors whose vec_id maps to NO document row are
    * a failure mode of their own (orphaned embeddings — stale index, or
    * an encoder emitting ids the corpus never had) and are REPORTED under
    * the source "(unmapped)" rather than silently dropped: the malformed
    * rows a QA gate exists to count must not be invisible to it. Columns
    * (source, n_vecs, n_zero, n_const, min_norm_e6, max_norm_e6,
    * sum_norm_e6).
    *
    * Scale posture (100 TB): one per-row pass over the vectors (norm is
    * the same native dot the cosine ops use) + one broadcast-size LEFT
    * join to the doc source + one keyed rollup — map-side combinable,
    * |sources|+1 rows out. No window, no pairs.
    */
  def embNormAudit(emb: DataFrame, docs: DataFrame): DataFrame = {
    val n = withNorm(emb)
      .withColumn("nrm_e6", floor(col("nrm") * 1e6).cast("long"))
      .withColumn("is_const",
        when(expr("array_min(v) = array_max(v)"), 1L).otherwise(0L))
    val src = docs.select(col("doc_id").as("vec_id"), col("source"))
    n.join(src, Seq("vec_id"), "left")
      .withColumn("source", coalesce(col("source"), lit("(unmapped)")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("nrm_e6") === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum(col("is_const")).as("n_const"),
        min("nrm_e6").as("min_norm_e6"),
        max("nrm_e6").as("max_norm_e6"),
        sum("nrm_e6").as("sum_norm_e6"))
  }

  /** x118 core: per-DIMENSION embedding statistics — the anisotropy /
    * dead-dimension audit (Ethayarajh 2019; Timkey & van Schijndel 2021
    * "rogue dimensions"): per dimension, the count, zero-element count,
    * min/max, and the exact first and second moments in e6 fixed point
    * (per-element floor, so every aggregate is an order-independent
    * integer — the x35 no-libm rule; the second moment accumulates in
    * decimal(38,0) because Σx² overflows int64 at corpus scale by
    * construction). What it catches: a DEAD dimension (min == max —
    * encoder weight collapse, reported as is_dead) contributes nothing
    * but index cost; a ROGUE dimension (variance orders of magnitude
    * above the rest) dominates every dot product, making cosine
    * similarity effectively one-dimensional — the classic reason ANN
    * recall craters after an encoder swap (re-run x113 and THIS on every
    * re-embed; per-dim mean/variance derive exactly from n/sum/sumsq).
    * Columns (dim, n_vecs, n_zero, min_e6, max_e6, sum_e6, sumsq_e12,
    * is_dead).
    *
    * Scale posture (100 TB): one posexplode scan into (dim, x_e6) and a
    * keyed aggregate — map-side combinable, |dims| rows out, no window,
    * no join. The explode multiplies rows ×dim but each row is 16 bytes
    * and the partial aggregate collapses them executor-side before any
    * exchange; for very wide embeddings, fuse into a per-row native
    * expression emitting the per-partition moment grid (the CharProfile
    * pattern) instead.
    */
  def dimStats(emb: DataFrame): DataFrame =
    emb
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("d0", "x")))
      .select(
        (col("d0") + 1).cast("long").as("dim"),
        floor(col("x") * lit(1e6)).cast("long").as("x_e6"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("x_e6") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min("x_e6").as("min_e6"),
        max("x_e6").as("max_e6"),
        sum("x_e6").as("sum_e6"),
        sum((col("x_e6") * col("x_e6")).cast("decimal(38,0)")).cast("long").as("sumsq_e12"))
      .withColumn("is_dead",
        when(col("min_e6") === col("max_e6"), 1L).otherwise(0L))

  /** x124 core: embedding ANISOTROPY audit — the collapse-to-a-cone
    * signal (Ethayarajh EMNLP 2019; Mu & Viswanath ICLR 2018 "all-but-
    * the-top"): per label and overall,
    * anis_e6 = (1e6 · ‖Σv‖²) div (n · Σ‖v‖²), computed entirely in
    * integer arithmetic on e6-quantized elements (per-element floor, the
    * x118 rule) with decimal(38,0) accumulators. The measure is bounded
    * in [0, 1e6] by Cauchy–Schwarz and expands to
    * (1/n)·(1 + Σ_{i≠j} vᵢ·vⱼ / Σ‖v‖²): isotropic embeddings score
    * ≈ 1e6/n (pairwise dots cancel), a collapsed cone scores → 1e6
    * (every pair nearly parallel). What it catches: encoder drift that
    * concentrates mass in a shared direction — cosine loses contrast,
    * x113's ANN recall craters, x30's semantic dedup over-merges — BEFORE
    * any index is built. The per-label rows localize the collapse (one
    * entangled class vs a global drift); x118 names the culprit
    * dimensions, this scores the geometry they induce. Columns
    * (label, n_vecs, anis_e6) with label = -1 for the all-vectors row.
    *
    * Scale posture (100 TB): one posexplode scan into (label, dim)
    * partial sums — map-side combinable, |labels|·|dims| intermediate
    * rows — then two |labels|-sized rollups; no window, no join wider
    * than the broadcastable label list. Envelope: 1e6·‖Σv‖² must fit
    * decimal(38,0) — with |x|≤1 that holds to n ≈ 1e12 vectors per
    * group; beyond it, aggregate per-shard sums hierarchically (the
    * partial sums ARE the mergeable sketch).
    */
  def anisotropy(emb: DataFrame): DataFrame = {
    val q = emb
      .select(
        col("label").cast("long").as("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d0", "x")))
      .select(
        col("label"),
        (col("d0") + 1).cast("long").as("dim"),
        floor(col("x") * lit(1e6)).cast("long").as("x_e6"))
    // |labels|·|dims| rows, pinned so the per-label and overall rollups
    // read it instead of re-scanning the corpus (the x112 one-scan pin).
    val ld = q.groupBy("label", "dim").agg(
        sum("x_e6").as("s"),
        sum(expr("cast(x_e6 as decimal(38,0)) * x_e6")).as("t"),
        count(lit(1)).as("n"))
      .localCheckpoint()
    val perLabel = ld.groupBy("label").agg(
      max("n").as("n_vecs"),
      sum(expr("cast(s as decimal(38,0)) * s")).as("a"),
      sum("t").as("b"))
    val overall = ld.groupBy("dim").agg(
        sum("s").as("s"), sum("t").as("t"), sum("n").as("n"))
      .agg(
        max("n").cast("long").as("n_vecs"),
        sum(expr("cast(s as decimal(38,0)) * s")).as("a"),
        sum("t").as("b"))
      .select(lit(-1L).as("label"), col("n_vecs"), col("a"), col("b"))
    perLabel.select("label", "n_vecs", "a", "b").unionByName(overall)
      .withColumn(
        "anis_e6",
        // b = 0 (every element quantizing to 0 within a group) would make
        // the integer divide null — sentinel 0, the batchAudit rule.
        expr("CASE WHEN b = 0 THEN 0 ELSE " +
          "(cast(1000000 as decimal(38,0)) * a) div (cast(n_vecs as decimal(38,0)) * b) END"))
      .select("label", "n_vecs", "anis_e6")
  }

  /** x135 core: LABEL-SEPARATION audit — the one-way-ANOVA view of the
    * embedding space: decompose the total centered scatter into BETWEEN-
    * label and WITHIN-label parts via the sufficient-statistics identity
    * (B = Σ_l ‖S_l‖²/n_l − ‖S‖²/n, W = T − Σ_l ‖S_l‖²/n_l with S = dim
    * sums, T = Σ‖v‖², all on e6-quantized ints) and report
    * eta2_e6 = (1e6·B) div (B+W) — the correlation ratio η², the share of
    * embedding variance the labels explain — plus the Fisher ratio B/W.
    * Why it matters: η² → 0 means labels are unlearnable from this
    * embedding (x85's retrieval eval and x76's centroid classifier will
    * both fail — and THIS says it before either runs); η² shifting after
    * an encoder swap is the class-structure regression x113's recall
    * alone can't attribute. The per-label terms floor identically in both
    * engines (÷ by n_l on e12-scale quantities — deterministic, error
    * ≤ 1 ppb), B is clamped at 0 before any division so no negative ever
    * meets an integer divide. Columns (n_vecs, n_labels, eta2_e6,
    * fisher_e6); fisher_e6 = 0 sentinel when W = 0 (each label collapsed
    * to a point).
    *
    * Scale posture (100 TB): identical shape to x124 — one posexplode
    * scan into mergeable (label, dim) partial sums, two |labels|-sized
    * rollups, no window, no join; decimal(38) accumulators.
    */
  def labelSeparation(emb: DataFrame): DataFrame = {
    val q = emb
      .select(
        col("label").cast("long").as("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d0", "x")))
      .select(
        col("label"),
        (col("d0") + 1).cast("long").as("dim"),
        floor(col("x") * lit(1e6)).cast("long").as("x_e6"))
    val ld = q.groupBy("label", "dim").agg(
        sum("x_e6").as("s"),
        sum(expr("cast(x_e6 as decimal(38,0)) * x_e6")).as("t"),
        count(lit(1)).as("n"))
      .localCheckpoint() // one corpus pass feeds the label and global legs
    val perLabel = ld.groupBy("label").agg(
        max("n").as("nl"),
        sum(expr("cast(s as decimal(38,0)) * s")).as("ssq"),
        sum("t").as("tl"))
      .withColumn("term", expr("ssq div nl"))
    val lab = perLabel.agg(
      count(lit(1)).as("n_labels"),
      sum("nl").as("n_vecs"),
      sum(expr("cast(term as decimal(38,0))")).as("sum_term"),
      sum("tl").as("t_all"))
    val glob = ld.groupBy("dim").agg(sum("s").as("s"))
      .agg(sum(expr("cast(s as decimal(38,0)) * s")).as("gsq"))
    lab.crossJoin(broadcast(glob))
      .withColumn("term_g", expr("gsq div n_vecs"))
      .withColumn("b", expr("greatest(sum_term - term_g, cast(0 as decimal(38,0)))"))
      .withColumn("w", expr("t_all - sum_term"))
      .withColumn("eta2_e6",
        expr("CASE WHEN b + w = 0 THEN 0 ELSE " +
          "(cast(1000000 as decimal(38,0)) * b) div (b + w) END"))
      .withColumn("fisher_e6",
        expr("CASE WHEN w = 0 THEN 0 ELSE " +
          "(cast(1000000 as decimal(38,0)) * b) div w END"))
      .select("n_vecs", "n_labels", "eta2_e6", "fisher_e6")
  }

  /** x136 core: LSH BUCKET-HEALTH audit — per hyperplane table, the
    * occupancy geometry that DETERMINES the x07 index's probe cost:
    * occupied buckets, the hottest bucket's occupancy and share, the
    * mean occupancy, and the within-bucket candidate-pair mass
    * Σ occ·(occ−1)/2 — which IS the number of distance computations a
    * probe-everything pass pays on that table. Why it matters: hyperplane
    * LSH assumes vectors spread across 2^NP buckets; anisotropic
    * embeddings (x124 — a collapsed cone lands on the same side of most
    * planes) pile into a few hot buckets, so probe latency degenerates
    * toward brute force while recall (x113) stays deceptively fine. This
    * is the per-table evidence for re-drawing planes or re-centering
    * ("all-but-the-top") after an encoder swap — x28 calibrates the
    * MinHash sketch, this calibrates the ANN hash. Columns (tbl, n_vecs,
    * n_buckets, max_occ, max_share_e6, mean_occ_e6, sum_pairs), exact
    * integers.
    *
    * Scale posture (100 TB): bucket ids are pure per-row expressions
    * (the same ones the index computes anyway); the occupancy frame is
    * ≤ NL·2^NP rows — the audit is one map-side-combinable count per
    * table, no window, no join, no pairs materialized (the pair MASS is
    * arithmetic on occupancies, never an actual join).
    */
  def lshBucketHealth(emb: DataFrame): DataFrame = {
    val v = withNorm(emb)
    bucketRollup((0 until NL).map { t =>
      v.select(lit(t.toLong).as("tbl"), bucketT(col("v"), t).as("bkt"))
    }.reduce(_ unionByName _))
  }

  /** The x136 occupancy rollup over a (tbl, bkt) assignment frame — shared
    * by the raw (x136) and centered (x137) audits so their columns stay
    * directly comparable.
    */
  private def bucketRollup(perTable: DataFrame): DataFrame =
    perTable.groupBy("tbl", "bkt").agg(count(lit(1)).as("occ"))
      .groupBy("tbl")
      .agg(
        sum("occ").as("n_vecs"),
        count(lit(1)).as("n_buckets"),
        max("occ").as("max_occ"),
        sum(expr("(cast(occ as decimal(38,0)) * (occ - 1)) div 2")).as("sum_pairs"))
      .withColumn("max_share_e6", expr("(1000000 * max_occ) div n_vecs"))
      .withColumn("mean_occ_e6",
        expr("(cast(1000000 as decimal(38,0)) * n_vecs) div n_buckets"))
      .select("tbl", "n_vecs", "n_buckets", "max_occ", "max_share_e6",
        "mean_occ_e6", "sum_pairs")

  /** x137 machinery: per-vector INTEGER plane projections
    * dq_{t}_{j} = Σ_d floor(v_d·1e6)·p_{tj,d} for every (table, plane) —
    * the e6-quantized view of the hyperplane dots, one zip_with fold per
    * plane inside the scan (no shuffle). |q_d| ≤ 1e6·|v_d| and
    * |p| ≤ 1000, so each dot fits long through dim 64 with room to 10⁹.
    */
  private def planeDots(emb: DataFrame): DataFrame = {
    val q = emb.select(
      col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => floor(x * lit(1e6)).cast("long")).as("q"))
    val dqCols = for (t <- 0 until NL; j <- 0 until NP) yield
      aggregate(
        zip_with(col("q"), array(tablePlanes(t)(j).map(lit): _*), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x).as(s"dq_${t}_$j")
    q.select(col("vec_id") +: dqCols: _*)
  }

  /** One-row centering totals over [[planeDots]]: n plus Σ dq_{t}_{j} as
    * decimal(38,0) — mean-centering the hyperplane test needs ONLY these
    * NL·NP+1 scalars, because sign(⟨v−mean, p⟩) = sign(n·⟨q,p⟩ − Σ⟨q,p⟩)
    * (the common-denominator trick on exact integers).
    */
  private def planeDotTotals(d: DataFrame): DataFrame =
    d.agg(
      count(lit(1)).as("n"),
      (for (t <- 0 until NL; j <- 0 until NP)
        yield sum(col(s"dq_${t}_$j").cast("decimal(38,0)")).as(s"s_${t}_$j")): _*)

  /** Centered bucket id for table t over a frame carrying dq_* and the
    * broadcast totals: bit j set iff n·dq_{t}_{j} > Σ dq_{t}_{j}.
    */
  private def bucketCenteredT(t: Int): Column =
    (0 until NP).map { j =>
      when(expr(s"cast(n as decimal(38,0)) * dq_${t}_$j > s_${t}_$j"),
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** x137 core: CENTERED-LSH bucket health — the remediation x136
    * recommends, measured: re-bucket with every hyperplane test CENTERED
    * on the corpus mean (Mu & Viswanath ICLR 2018 "all-but-the-top",
    * step 1 — subtract the mean before hashing) and report the same
    * per-table occupancy geometry, so x136-vs-x137 is a direct
    * before/after. Why it works: anisotropic embeddings (x124's cone)
    * sit in one halfspace of most planes — the mean offset, not the
    * vectors' relative geometry, decides the bit — so they pile into hot
    * buckets; subtracting the mean restores the ±balance each plane
    * assumes while leaving every PAIRWISE angle (what the cosine rerank
    * scores) untouched. Exact integers end-to-end: elements e6-quantize
    * per the x118 rule, the centered sign test is
    * n·⟨q,p⟩ > Σ⟨q,p⟩ on decimal(38) — no float mean crosses the oracle.
    * Same columns as x136.
    *
    * Scale posture (100 TB): one scan computes the NL·NP integer plane
    * dots per row; the centering state is NL·NP+1 scalars (one tiny
    * aggregate, broadcast back — the quantizer-state pattern); bucketing
    * is then per-row arithmetic and the rollup is the same ≤ NL·2^NP-row
    * count as x136. Envelope: Σ dq fits decimal(38) to ~10¹⁵ vectors.
    * The audit pairs with [[knnLshCentered]], the production index this
    * calibrates — adopt centering when x137's max_share/sum_pairs beat
    * x136's with x113 recall held (spec-pinned on the anisotropic
    * fixture).
    */
  def lshBucketHealthCentered(emb: DataFrame): DataFrame = {
    // one scan feeds the totals and the bucketing leg (the x112 pin rule);
    // reliable (storage-backed) under a session checkpoint dir, so the
    // NL·NP plane dots survive executor loss at 100 TB — identical
    // semantics either way
    val d = DedupClusters.ckpt(planeDots(emb))
    val withTot = d.crossJoin(broadcast(planeDotTotals(d)))
    bucketRollup((0 until NL).map { t =>
      withTot.select(lit(t.toLong).as("tbl"), bucketCenteredT(t).as("bkt"))
    }.reduce(_ unionByName _))
  }

  /** Centered-LSH top-k (the x137-calibrated production index): identical
    * to [[knnLsh]] — collide in ANY table, exact cosine rank on candidates
    * — but bucket ids come from the mean-centered hyperplane test, so hot
    * anisotropic buckets disperse and probe cost drops while the cosine
    * rerank (unchanged: centering cancels in pairwise geometry only for
    * the HASH; the rerank always used the raw vectors) keeps the same
    * scores. Columns (query_id, rank, neighbor_id).
    */
  def knnLshCentered(
      emb: DataFrame,
      isQuery: Column,
      k: Int = 3): DataFrame = {
    val d = DedupClusters.ckpt(planeDots(emb))
    val withTot = d.crossJoin(broadcast(planeDotTotals(d)))
    val withB = withTot.select(
      col("vec_id"),
      array((0 until NL).map(t => bucketCenteredT(t)): _*).as("bks"))
    val side = withB.select(col("vec_id"), posexplode(col("bks")).as(Seq("tbl", "bucket")))
    rankBucketCandidates(withNorm(emb), side, isQuery, k)
  }

  /** x110 core: LABEL-NOISE audit via k-NN label agreement — the
    * confident-learning signal (Northcutt et al. JAIR 2021) computed from
    * neighborhood votes: a labeled example whose nearest neighbors
    * mostly carry a DIFFERENT label is the classic mislabeling suspect,
    * and a label whose aggregate neighbor agreement is low is either
    * noisy or genuinely entangled with another class (cross-check with
    * the x46 centroid-confusability matrix). Takes ANY
    * (query_id, rank, neighbor_id) graph — [[knnBrute]] as the exactness
    * baseline, the x07 LSH graph as the production posture — because the
    * votes that matter are the shortlists the deployed index actually
    * returns. Per label: vector count, isolated count (no neighbors in
    * the graph — never silently dropped), total votes cast (sum_k),
    * same-label votes (sum_same), strict-majority-disagree suspects, and
    * agree_e6 = (1e6·sum_same) div sum_k — integer arithmetic end to
    * end, so the cross-engine compare is exact.
    *
    * Scale posture (100 TB): the edge list is k·|corpus| rows; both
    * label attachments are keyed joins on vec_id (no broadcast needed —
    * the label map is corpus-sized); the per-query vote count is
    * map-side combinable, the zero-completion is one keyed LEFT join,
    * and the final rollup is |labels| rows. No window, no pairs beyond
    * what the chosen graph generator already produced.
    */
  def knnLabelAgreement(knn: DataFrame, emb: DataFrame): DataFrame = {
    val lab = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val perQ = knn
      .join(lab.select(col("vec_id").as("query_id"), col("label").as("q_label")), "query_id")
      .join(lab.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")), "neighbor_id")
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("k_found"),
        sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L)).as("n_same"))
    lab.join(perQ, lab("vec_id") === perQ("query_id"), "left")
      .na.fill(0L, Seq("k_found", "n_same"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("k_found") === 0L, 1L).otherwise(0L)).as("n_isolated"),
        sum("k_found").as("sum_k"),
        sum("n_same").as("sum_same"),
        sum(when(col("k_found") > 0L && col("n_same") * 2 < col("k_found"), 1L)
          .otherwise(0L)).as("n_suspect"))
      .withColumn("agree_e6",
        when(col("sum_k") > 0L, expr("(1000000 * sum_same) div sum_k")).otherwise(0L))
  }

  /** Query-sample modulus for x113's recall evaluation: vectors with
    * vec_id ≡ 0 (mod RecallMod) are the eval queries — a deterministic
    * ~5% sample, the standard ANN-benchmark posture (ground truth is
    * computed for a query SAMPLE, never the whole corpus).
    */
  val RecallMod = 20

  /** x113 core: ANN RECALL@k audit — the one number that justifies every
    * approximate index in this library: per label, how much of the EXACT
    * top-k neighborhood the approximate graph actually returned.
    * Recall@k = |approx ∩ exact| / |exact| over a deterministic query
    * sample, scored against [[knnBrute]] ground truth restricted to the
    * same sample. Per label (recall loss concentrates in entangled
    * regions of the space — a global average hides a label whose
    * neighborhoods the index never finds; cross-check x110 agreement and
    * x46 confusability): query count, exact edges, hit edges, queries
    * with ZERO hits (retrieval dead zones), and recall_e6 as exact
    * integer division.
    *
    * Scale posture (100 TB): ground truth is |sample| × |corpus| — the
    * query side is the broadcast side, one corpus scan (the ONLY
    * all-pairs leg, and it is sample-bounded by construction; shrink
    * [[RecallMod]]'s inverse as the corpus grows, the statistical value
    * of recall@k saturates in the thousands of queries). The approx
    * graph is whatever the production index (x07/x13/x59) already built;
    * the intersection is one keyed LEFT join on (query_id, neighbor_id);
    * rollups are |sample| then |labels| rows. Re-run per index rebuild —
    * recall regressions ship silently otherwise.
    */
  def annRecall(approx: DataFrame, exact: DataFrame, emb: DataFrame): DataFrame = {
    val lab = emb.select(col("vec_id").as("query_id"), col("label").cast("long").as("label"))
    val perQ = exact.select("query_id", "neighbor_id")
      .join(
        approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .na.fill(0L, Seq("hit"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), sum("hit").as("n_hit"))
    perQ.join(lab, "query_id")
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_queries"),
        sum("n_exact").as("n_exact"),
        sum("n_hit").as("n_hit"),
        sum(when(col("n_hit") === 0L, 1L).otherwise(0L)).as("n_zero_recall"))
      .withColumn("recall_e6", expr("(1000000 * n_hit) div n_exact"))
  }

  /** LSH top-k, the scale path for [[knnBrute]]: candidates collide in ANY
    * of the NL tables, exact cosine rank on candidates only. Columns
    * (query_id, rank, neighbor_id).
    */
  def knnLsh(emb: DataFrame, isQuery: Column, k: Int = 3): DataFrame = {
    val e = withNorm(emb)
    val side = e
      .withColumn("bks", array((0 until NL).map(t => bucketT(col("v"), t)): _*))
      .select(col("vec_id"), posexplode(col("bks")).as(Seq("tbl", "bucket")))
    rankBucketCandidates(e, side, isQuery, k)
  }

  /** Shared knnLsh tail: candidate pairs from ANY-table bucket collision,
    * exact cosine rank on candidates only — the bucketing scheme (raw
    * [[knnLsh]] vs centered [[knnLshCentered]]) only changes the `side`
    * frame; the rerank always scores the RAW vectors.
    */
  private def rankBucketCandidates(
      e: DataFrame, side0: DataFrame, isQuery: Column, k: Int): DataFrame = {
    // the bucket-assignment frame feeds BOTH sides of the collision join;
    // un-materialized, the NL hyperplane projections per vector run twice
    // (once per side — 2× the bucketing cost over the corpus at scale).
    // It is vec-count × NL rows of (vec_id, tbl, bucket) metadata — tiny
    // at any scale — so one cut (the session's kind: lazy local, or
    // reliable under a checkpoint dir) is the §5 trade.
    val side = DedupClusters.ckpt(side0)
    // bucket-collision join: quadratic fan-out from metadata-sized inputs —
    // re-key by the bucket key so candidate generation parallelizes
    // regardless of scan width (the simhash-block-join rule, Dedup.scala).
    // Probe side only, so the build side stays broadcast (hash-probe is
    // far cheaper per candidate than a sort-merge group walk); explicit
    // count on purpose — the count-free form was measured and rejected
    // (AQE coalesces the byte-tiny exchange and re-serializes the
    // fan-out; see Dedup.candidatesFromFingerprints).
    val n = Dedup.candidateParallelism(side)
    val cand = side.filter(isQuery).select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
      .repartition(n, col("tbl"), col("bucket"))
      .join(
        side.select(col("vec_id").as("neighbor_id"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val qv = e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cv = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(qv, "query_id").join(cv, "neighbor_id")
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Per-cluster doc cap for the x52 query. */
  val ClusterCap = 32

  /** x52 core: cluster-balanced quality selection — assign every embedding
    * to its x13 k-means cluster, rank the joined docs INSIDE each cluster
    * by the x09 quality score (ties by vec_id) and keep the top `cap`.
    * Capping each semantic cluster is the diversity-preserving curation
    * rule (DataComp-style cluster balancing): a dominant cluster
    * contributes at most `cap` docs no matter how big it grows, so the
    * kept set cannot collapse onto one mode of the corpus while still
    * preferring the highest-quality docs inside every mode. Returns
    * per-doc (vec_id, cid, n_tok, score_e4, rk, kept).
    *
    * Scale posture (100 TB): assignment is a broadcast pass over the
    * corpus (centroids are driver-resident quantizer state, x13); the rank
    * window is PARTITIONED by cid — no global sort anywhere. A selection
    * consumer (`.filter(col("kept"))`) gets a per-cid WindowGroupLimit on
    * the literal cap (spec-asserted), so each shuffle partition forwards
    * at most cap candidates per cluster; the diagnostic query keeps
    * dropped rows for accounting, so only the quantizer's rn=1 limit
    * appears there. nc defaults to corpus-proportional (the x30 auto-nc
    * rule) so mean cluster size — and the per-cluster window — stays
    * bounded as the corpus grows; `trainSample` < 1 trains the quantizer
    * on a deterministic hash-sample.
    */
  def clusterCapped(
      emb: DataFrame,
      docs: DataFrame,
      cap: Int = ClusterCap,
      nc: Int = 0,
      trainSample: Double = 1.0): DataFrame = {
    val vi = fixedPoint(emb)
    // nc <= 0 means auto (corpus-proportional, the semDedup rule);
    // oracle-pinned queries pass nc = NC so the SQL twin's literal holds
    val ncEff =
      if (nc > 0) nc
      else math.max(NC.toLong, emb.count() / TargetClusterSize).toInt
    val asg = quantizerRanked(vi, trainQuantizer(vi, ncEff, trainSample))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
    val qd = TextAnalysis.qualityPerDoc(docs)
    val byQ = Window.partitionBy("cid").orderBy(col("score_e4").desc, col("vec_id"))
    asg.join(qd, asg("vec_id") === qd("doc_id"))
      .select(col("vec_id"), col("cid"), col("n_tok"), col("score_e4"))
      .withColumn("rk", row_number().over(byQ).cast("long"))
      .withColumn("kept", col("rk") <= cap)
  }

  /** x54 core: prototype pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws") — the paper's self-supervised pruning metric is the
    * distance to the assigned k-means centroid: vectors CLOSE to their
    * centroid are prototypical/easy and contribute least at large data
    * scale, so keep the hardest (most-distant) ceil(n/2) per cluster.
    * Distances are the x13 fixed-point integers, so the keep rule is
    * integer-exact cross-engine. Returns per-vector
    * (vec_id, cid, dist, rk, n, kept).
    *
    * Scale posture (100 TB): assignment is the x13 broadcast pass; both
    * windows (hardness rank, cluster size) share one partitioning on cid,
    * so the whole selection is a single keyed shuffle with per-cluster
    * state only. nc defaults to corpus-proportional, which bounds cluster
    * size; `trainSample` < 1 trains the quantizer on a deterministic
    * hash-sample.
    */
  def protoPrune(
      emb: DataFrame,
      nc: Int = 0,
      trainSample: Double = 1.0): DataFrame = {
    val vi = fixedPoint(emb)
    // nc <= 0 means auto (corpus-proportional, the semDedup rule);
    // oracle-pinned queries pass nc = NC so the SQL twin's literal holds
    val ncEff =
      if (nc > 0) nc
      else math.max(NC.toLong, emb.count() / TargetClusterSize).toInt
    val asg = quantizerRanked(vi, trainQuantizer(vi, ncEff, trainSample))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("dist"))
    val byHard = Window.partitionBy("cid").orderBy(col("dist").desc, col("vec_id"))
    val whole = Window.partitionBy("cid")
    asg
      .withColumn("rk", row_number().over(byHard).cast("long"))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("kept", col("rk") <= expr("(n + 1) div 2"))
  }

  /** x55 core: bitext-mining margin scoring (Artetxe & Schwenk 2019) —
    * for every non-`targetLang` doc, its best `targetLang` neighbor by
    * cosine plus the DIFFERENCE margin against the runner-up (cos1 −
    * cos2). Raw best-cosine ranking over-selects hub vectors (a hub is
    * everyone's nearest neighbor); the margin demotes hubs because a
    * hub's runner-up is nearly as close, which is the paper's point.
    * Columns (query_id, best_id, second_id, cos_best4, margin4);
    * `second_id`/`margin4` are null when only one target doc exists.
    *
    * Scale posture (100 TB): same broadcast-query one-corpus-scan shape
    * as x06/x41 — the declared exact baseline; route candidates through
    * the x13 IVF lists (probe nearest clusters, margin on candidates
    * only) when the query side stops fitting a broadcast.
    */
  def bitextMargin(
      emb: DataFrame,
      docs: DataFrame,
      targetLang: String = "en",
      isQuery: Column = lit(true)): DataFrame = {
    val e = withNorm(emb).join(docs.select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
    val q = e.filter(col("lang") =!= targetLang && isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.filter(col("lang") === targetLang)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q).join(c)
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .groupBy("query_id")
      .agg(
        max(when(col("rank") === 1, col("neighbor_id"))).as("best_id"),
        max(when(col("rank") === 2, col("neighbor_id"))).as("second_id"),
        max(when(col("rank") === 1, col("cos"))).as("c1"),
        max(when(col("rank") === 2, col("cos"))).as("c2"))
      .select(
        col("query_id"), col("best_id"), col("second_id"),
        round(col("c1"), 4).as("cos_best4"),
        round(col("c1") - col("c2"), 4).as("margin4"))
  }

  /** x91 knobs: chunk vec_id = doc_id * RagIdStride + chunk_id (chunks per
    * doc are bounded far below the stride by x36's geometry), seeds = all
    * chunks with vec_id < RagSeedCap (the chunks of the first few docs —
    * the same vec_id-prefix seeding rule the x13 quantizer uses). Declared
    * before `queries` so the SQL twin sees them initialized.
    */
  val RagIdStride = 1000L
  val RagSeedCap = 4000L

  /** x91 core: RAG index BUILD as one composed job — the retrieval-side
    * x57: chunk every doc (x36 geometry), embed each chunk by feature
    * hashing (Weinberger et al. 2009: token h60 picks one of 64 signed
    * buckets, the chunk vector is the bucket sum — deterministic,
    * vocabulary-free, integer from birth), train the x13 fixed-point
    * coarse quantizer over the chunk vectors, assign every chunk to its
    * cell, and emit the per-cell index manifest (chunks, distinct parent
    * docs, summed squared quantization error). Columns
    * (cid, n_chunks, n_docs, sse).
    *
    * Scale posture (100 TB): chunk+hash is one scan, zero shuffle (the
    * 64-dim vector is a per-row map-side aggregate of the chunk's own
    * tokens); quantizer training scans a driver-resident centroid
    * broadcast NITER times (trainSample bounds it at scale); assignment
    * is the same broadcast join; the manifest is one groupBy(cid) with
    * map-side combine to |cells| rows. No corpus self-join anywhere —
    * the index ships as (cell -> chunk ids) plus the centroid table.
    */
  /** x91/x92 shared front half: chunk every doc (x36 geometry) and embed
    * each chunk by 64-bucket signed feature hashing. Columns
    * (vec_id = doc_id * RagIdStride + chunk_id, vi: array<long> 64-dim).
    * One scan, zero shuffle up to the per-chunk bucket aggregate.
    */
  def ragEmbed(docs: DataFrame): DataFrame = {
    val w = DataPrep.ChunkW
    val s = DataPrep.ChunkS
    val tok = docs
      .select(col("doc_id"), XText.words(col("text")).as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
      .withColumn("nch",
        lit(1L) + when(col("nw") > w, expr(s"(nw - $w + ${s - 1}) div $s")).otherwise(lit(0L)))
      .select(col("doc_id"), col("ws"), col("nw"),
        explode(expr("sequence(0L, nch - 1)")).as("ci"))
      .withColumn("vec_id", col("doc_id") * RagIdStride + col("ci"))
      .withColumn("start", lit(1L) + col("ci") * s)
      .withColumn("ntk", least(lit(w.toLong), col("nw") - col("start") + 1))
      .select(col("vec_id"),
        explode(expr("slice(ws, CAST(start AS INT), CAST(ntk AS INT))")).as("tk"))
    val sv = tok
      .withColumn("h", XHash.h60(col("tk")))
      .select(col("vec_id"), ((col("h") % 64) + 1).as("b"),
        expr("((h div 64) % 2) * 2 - 1").as("sgn"))
      .groupBy("vec_id", "b")
      .agg(sum("sgn").as("x"))
    sv.groupBy("vec_id")
      .agg(map_from_entries(collect_list(struct(col("b").cast("int"), col("x")))).as("m"))
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(64)), i => coalesce(element_at(col("m"), i), lit(0L)))
          .as("vi"))
  }

  /** RAG index build (x91): chunk -> signed-feature-hash embed ->
    * fixed-point coarse quantizer -> per-cell manifest, as one composed
    * job — the retrieval-side counterpart of the x57 corpus pipeline.
    */
  def ragIndex(
      docs: DataFrame,
      seedCap: Long = RagSeedCap,
      trainSample: Double = 1.0): DataFrame = {
    // chunk+hash-embed is two shuffles over token-level rows and feeds the
    // seed collect, every training round AND the assignment — materialize
    // it ONCE (the pqCodes repeated-subtree rule) instead of re-deriving
    // it from text per consumer
    val vi = DedupClusters.ckpt(ragEmbed(docs))
    val cents = trainQuantizer(vi, seedCap.toInt, trainSample)
    quantizerRanked(vi, cents)
      .filter(col("rn") === 1)
      .groupBy("cid")
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(expr(s"vec_id div $RagIdStride")).as("n_docs"),
        sum("dist").as("sse"))
  }

  /** x92 core: RAG RETRIEVAL over the x91 index — the query side, with a
    * built-in self-retrieval eval (x88's protocol in vector space). Every
    * qMod-th doc with >= 2 chunks queries with its chunk-0 vector; the
    * NPROBE nearest cells (by centroid distance) are probed; candidate
    * chunks in those cells (minus the query chunk itself) are ranked by
    * exact integer squared distance; the best rank of a SIBLING chunk
    * (same parent doc — overlapping chunks share tokens, so a working
    * index finds them) scores the query. Per source: queries, hits@1,
    * hits@10, summed reciprocal rank e6, MRR e6. Queries whose siblings
    * all live outside the probed cells score 0 — the nprobe recall loss,
    * measured not assumed.
    *
    * Scale posture (100 TB): probing is a |q| x |cells| broadcast join;
    * candidates shuffle once on the cell id and only probed cells'
    * chunks move; the exact-distance rerank touches |q| x (chunks in
    * NPROBE cells) pairs — the IVF contract. Training rides the same
    * trainSample knob and checkpoint policy as the index build.
    */
  def ragRetrieval(
      docs: DataFrame,
      qMod: Int = TextAnalysis.BmQMod,
      nprobe: Int = NPROBE,
      seedCap: Long = RagSeedCap,
      trainSample: Double = 1.0): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    // one materialization feeds training, assignment, the per-doc chunk
    // counts and the query frame (the pqCodes repeated-subtree rule)
    val vi = DedupClusters.ckpt(ragEmbed(docs))
    val cents = trainQuantizer(vi, seedCap.toInt, trainSample)
    val asg = quantizerRanked(vi, cents).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("vi"))
    val nChunks = vi.groupBy(expr(s"vec_id div $RagIdStride").as("did"))
      .agg(count(lit(1)).as("nch"))
    val q = vi.filter(col("vec_id") % RagIdStride === 0)
      .withColumn("did", expr(s"vec_id div $RagIdStride"))
      .filter(col("did") % qMod === 0)
      .join(nChunks.filter(col("nch") >= 2), "did")
      .select(col("vec_id").as("qid"), col("did"), col("vi").as("qv"))
    val byCent = Window.partitionBy("qid").orderBy(col("cd"), col("cid"))
    val probed = q.join(broadcast(cents.toDF("cid", "ci")))
      .withColumn("cd", graftnative.api.sqdistLong(col("qv"), col("ci")))
      .withColumn("cr", row_number().over(byCent))
      .filter(col("cr") <= nprobe)
      .select(col("qid"), col("did"), col("qv"), col("cid"))
    val byDist = Window.partitionBy("qid").orderBy(col("d"), col("vec_id"))
    val ranked = probed.join(asg, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("d", graftnative.api.sqdistLong(col("qv"), col("vi")))
      .withColumn("rk", row_number().over(byDist).cast("long"))
    val hit = ranked.filter(expr(s"vec_id div $RagIdStride") === col("did"))
      .groupBy("qid").agg(min("rk").as("rk"))
    q.select("qid", "did")
      .join(hit, Seq("qid"), "left")
      .join(docs.select(col("doc_id").as("did"), col("source")), "did")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("hits1"),
        sum(when(col("rk") <= 10, 1L).otherwise(0L)).as("hits10"),
        sum(coalesce(expr("1000000 div rk"), lit(0L))).as("sum_rr_e6"))
      .withColumn("mrr_e6", expr("sum_rr_e6 div n_queries"))
  }

  val queries: Seq[Q] = Seq(
    // ----- x06: brute-force cosine top-k (exact baseline) -----
    Q(
      "x06_knn_brute",
      Some(
        s"WITH $normCtes, " +
          "s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          s"$cosSql AS cos FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id), " +
          "r AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
          "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r WHERE rank <= 3 " +
          "ORDER BY query_id, rank"),
      "exact top-3 by cosine for 10 query vectors: query side broadcast, one corpus scan, " +
        "per-partition top-k then a |q|*k-row final sort"
    ) { (s, dir) =>
      knnBrute(table(s, dir, "embeddings"), col("vec_id") < 10)
        .orderBy("query_id", "rank")
    },

    // ----- x13: IVF ANN (coarse-quantizer scale path) -----
    Q(
      "x13_knn_ivf",
      Some {
        // k-means-trained coarse quantizer in FIXED-POINT arithmetic:
        // vectors quantized to floor(x*2^20) longs, NITER rounds of
        // assign (integer squared-L2, ties by cid) + per-dimension mean
        // (long sum, then floor(sum/count) — double division of exact
        // integers, IEEE-identical in both engines). Seeds = first NC
        // vectors. dist/probe rank by (dist, cid) so ties are
        // deterministic in both engines.
        s"WITH $normCtes, $kmeansRankedSql, " +
          "asg AS (SELECT vec_id, cid FROM r0 WHERE rn = 1), " +
          s"probe AS (SELECT vec_id, cid FROM r0 WHERE rn <= $NPROBE AND vec_id < 10), " +
          "s AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, " +
          s"$cosSql AS cos FROM probe p JOIN asg a ON a.cid = p.cid " +
          "JOIN n q ON q.vec_id = p.vec_id JOIN n c ON c.vec_id = a.vec_id " +
          "AND a.vec_id <> p.vec_id), " +
          "r AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
          "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r WHERE rank <= 3 " +
          "ORDER BY query_id, rank"
      },
      s"IVF with a $NITER-round k-means coarse quantizer trained as DataFrame algebra " +
        "(fixed-point longs so centroids are bit-identical to the oracle's): assign every vector " +
        "to its nearest of NC centroids (broadcast pass, no shuffle), probe the NPROBE nearest " +
        "inverted lists per query — candidates only, the FAISS-style 100 TB path; recall vs x06 " +
        "is spec-measured"
    ) { (s, dir) =>
      // fixed-point view; at 100 TB you'd train on a sample and cache —
      // here the corpus IS sample-sized while the algebra is the same
      val vi = fixedPoint(table(s, dir, "embeddings"))
      val ranked = quantizerRanked(vi, trainQuantizer(vi))
      val asg = ranked.filter(col("rn") === 1)
        .select(col("vec_id").as("neighbor_id"), col("cid"), col("v").as("cv2"), col("nrm").as("cn"))
      val probe = ranked.filter(col("rn") <= NPROBE && col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("cid"), col("v").as("qv"), col("nrm").as("qn"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      // the probe set is (queries x NPROBE) rows — broadcast it so the
      // inverted-list scan joins without sorting/shuffling the corpus side
      broadcast(probe).join(asg, Seq("cid"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", dot(col("qv"), col("cv2")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    },

    // ----- x30: SemDeDup (semantic dedup inside k-means clusters) -----
    Q(
      "x30_semdedup",
      Some(
        s"WITH $normCtes, $kmeansRankedSql, " +
          "asg AS (SELECT vec_id, cid, CAST(dist AS BIGINT) AS dist FROM r0 WHERE rn = 1), " +
          "p AS (SELECT a.vec_id AS va, a.dist AS da, b.vec_id AS vb, b.dist AS db, " +
          s"$cosSql AS cos FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id " +
          "JOIN n q ON q.vec_id = a.vec_id JOIN n c ON c.vec_id = b.vec_id), " +
          s"dom AS (SELECT DISTINCT va FROM p WHERE cos >= $SEMDEDUP_TAU " +
          "AND (db > da OR (db = da AND vb > va))) " +
          "SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cid, asg.dist, " +
          "(dom.va IS NULL) AS kept FROM asg LEFT JOIN dom ON dom.va = asg.vec_id " +
          "ORDER BY asg.vec_id"),
      "SemDeDup (Abbas et al. 2023): cluster the embeddings with the x13 fixed-point k-means, " +
        s"then inside each cluster drop every vector that has a cosine >= $SEMDEDUP_TAU " +
        "neighbor FARTHER from the centroid (ties by vec_id) — the paper's keep-the-outlier " +
        "rule as a pairwise-dominance pass, so no iterative connected components (route " +
        "pairs through x14's CC when full epsilon-group transitivity is wanted). The " +
        "within-cluster self-join is the point of the clustering: candidate pairs are " +
        "O(sum cluster^2), never corpus^2, and NC grows with the corpus so cluster size " +
        "stays bounded; centroid distances are exact integers, cosines bit-identical " +
        "cross-engine, so kept-flags need no tolerance."
    ) { (s, dir) =>
      // nc pinned to the literal the SQL twin inlines; library callers get
      // corpus-proportional auto-nc (and sampled training) by default
      semDedup(table(s, dir, "embeddings"), nc = NC).orderBy("vec_id")
    },

    // ----- x74 embedding leg: batch-vs-corpus near-dup on the vector side -----
    Q(
      "x74_admit_emb",
      Some {
        // corpus = every vector with vec_id % 9 <> 0; batch = the rest.
        // The quantizer trains on the CORPUS ONLY (seeds = its first NC
        // ids), the batch is assigned to the frozen centroids, and the
        // within-cell cosine >= tau decision is x30's currency turned
        // batch-vs-corpus.
        s"WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings " +
          "WHERE vec_id % 9 <> 0), " +
          "n AS (SELECT vec_id, v, " +
          "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e), " +
          s"$kmeansRankedSql, " +
          "asg AS (SELECT vec_id, cid FROM r0 WHERE rn = 1), " +
          "bn AS (SELECT vec_id, v, " +
          "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm " +
          "FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings " +
          "WHERE vec_id % 9 = 0)), " +
          s"bvi AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * $VSCALE) AS BIGINT)) " +
          "AS vi FROM bn), " +
          s"bd AS (SELECT bvi.vec_id, c.cid, " +
          "list_aggregate(list_transform(generate_series(1, 64), " +
          s"i -> (bvi.vi[i] - c.ci[i]) * (bvi.vi[i] - c.ci[i])), 'sum') AS dist " +
          s"FROM bvi CROSS JOIN c$NITER c), " +
          "rb AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
          "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM bd) " +
          "WHERE rn = 1), " +
          s"p AS (SELECT rb.vec_id, $cosSql AS cos FROM rb " +
          "JOIN asg a ON a.cid = rb.cid " +
          "JOIN bn q ON q.vec_id = rb.vec_id JOIN n c ON c.vec_id = a.vec_id), " +
          s"near AS (SELECT DISTINCT vec_id FROM p WHERE cos >= $SEMDEDUP_TAU), " +
          "st AS (SELECT b.vec_id, CASE WHEN near.vec_id IS NOT NULL " +
          "THEN 'near_dup_corpus_emb' ELSE 'admitted' END AS status " +
          "FROM bn b LEFT JOIN near USING (vec_id)) " +
          "SELECT status, CAST(count(*) AS BIGINT) AS n_vecs, " +
          "CAST(bit_xor(vec_id) AS BIGINT) AS checksum " +
          "FROM st GROUP BY status ORDER BY status"
      },
      "the EMBEDDING leg of daily-ingest admission — x74's batch-vs-corpus posture on " +
        "the vector side, catching what the text leg is blind to (rewordings whose " +
        "embeddings still coincide with corpus content): coarse quantizer trained on the " +
        "CORPUS only (x13's fixed-point k-means, bit-identical cross-engine), batch " +
        s"vectors assigned to the frozen centroids (broadcast — zero corpus shuffle), " +
        s"within-cell cosine >= $SEMDEDUP_TAU against corpus members only (x30's " +
        "currency). Per status: count + bit_xor checksum pins exactly which vectors " +
        "flag. Scale: candidates are O(batch x mean cell); the corpus contributes one " +
        "assignment pass, persistable beside the corpus like the sig sidecar."
    ) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      admitEmbedding(
        emb.filter(col("vec_id") % 9 =!= 0),
        emb.filter(col("vec_id") % 9 === 0),
        nc = NC)
        .select(
          col("vec_id"),
          when(col("near_emb"), "near_dup_corpus_emb").otherwise("admitted").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_vecs"), expr("bit_xor(vec_id)").as("checksum"))
        .orderBy("status")
    },

    // ----- x74 emb strict: + intra-batch rewording CC (`Cli admit --strict --emb`) -----
    Q(
      "x74_admit_emb_strict",
      Some {
        // x74_admit_emb's fixture + intra-batch REWORDING re-arrivals:
        // every 45th vector (45 = 9*5, so the original is IN the batch)
        // re-arrives under a new id with the SAME embedding — two
        // rewordings of one content landing together, invisible to the
        // batch-vs-corpus rule (neither is near the corpus unless the
        // original already was, in which case BOTH flag corpus-near and
        // stay out of the CC)
        s"WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings " +
          "WHERE vec_id % 9 <> 0), " +
          "n AS (SELECT vec_id, v, " +
          "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e), " +
          s"$kmeansRankedSql, " +
          "asg AS (SELECT vec_id, cid FROM r0 WHERE rn = 1), " +
          "bn AS (SELECT vec_id, v, " +
          "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm " +
          "FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings " +
          "WHERE vec_id % 9 = 0 " +
          "UNION ALL SELECT vec_id + 2000000, embedding::DOUBLE[] AS v FROM embeddings " +
          "WHERE vec_id % 45 = 0)), " +
          s"bvi AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * $VSCALE) AS BIGINT)) " +
          "AS vi FROM bn), " +
          s"bd AS (SELECT bvi.vec_id, c.cid, " +
          "list_aggregate(list_transform(generate_series(1, 64), " +
          s"i -> (bvi.vi[i] - c.ci[i]) * (bvi.vi[i] - c.ci[i])), 'sum') AS dist " +
          s"FROM bvi CROSS JOIN c$NITER c), " +
          "rb AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
          "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM bd) " +
          "WHERE rn = 1), " +
          s"p AS (SELECT rb.vec_id, $cosSql AS cos FROM rb " +
          "JOIN asg a ON a.cid = rb.cid " +
          "JOIN bn q ON q.vec_id = rb.vec_id JOIN n c ON c.vec_id = a.vec_id), " +
          s"near AS (SELECT DISTINCT vec_id FROM p WHERE cos >= $SEMDEDUP_TAU), " +
          "st AS (SELECT b.vec_id, CASE WHEN near.vec_id IS NOT NULL " +
          "THEN 'near_dup_corpus_emb' ELSE 'admitted' END AS status " +
          "FROM bn b LEFT JOIN near USING (vec_id)), " +
          "adm AS (SELECT vec_id FROM st WHERE status = 'admitted'), " +
          "bq AS (SELECT rb.vec_id, rb.cid, bn.v, bn.nrm FROM rb " +
          "JOIN bn USING (vec_id) JOIN adm USING (vec_id)), " +
          "pp AS (SELECT DISTINCT a.vec_id AS pa, b.vec_id AS pb FROM bq a " +
          "JOIN bq b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
          "WHERE list_aggregate(list_transform(generate_series(1, len(a.v)), " +
          s"i -> a.v[i] * b.v[i]), 'sum') / (a.nrm * b.nrm) >= $SEMDEDUP_TAU), " +
          "ed AS (SELECT pa, pb FROM pp UNION SELECT pb, pa FROM pp), " +
          "reach AS (SELECT pa AS id, pa AS comp FROM ed " +
          "UNION SELECT ed.pa AS id, r.comp FROM ed JOIN reach r ON ed.pb = r.id), " +
          "comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id), " +
          "losers AS (SELECT id FROM comp WHERE id <> component), " +
          "st2 AS (SELECT vec_id, CASE WHEN status = 'admitted' AND " +
          "vec_id IN (SELECT id FROM losers) THEN 'near_dup_batch_emb' ELSE status END " +
          "AS status FROM st) " +
          "SELECT status, CAST(count(*) AS BIGINT) AS n_vecs, " +
          "CAST(bit_xor(vec_id) AS BIGINT) AS checksum " +
          "FROM st2 GROUP BY status ORDER BY status"
      },
      "STRICT embedding admission — x74_admit_emb plus the intra-batch case the " +
        "batch-vs-corpus rule is structurally blind to, one signal level below " +
        "x74_admit_strict: two REWORDINGS of the same content arriving together both " +
        "clear the corpus check and would both enter the corpus forever. Within-cell " +
        s"cosine >= $SEMDEDUP_TAU pairs over the still-admitted batch vectors " +
        "(already-assigned cells, zero extra embedding access) -> connected components " +
        "(recursive-CTE closure in the oracle) -> one survivor (min id) per cluster, " +
        "losers near_dup_batch_emb — `Cli admit --strict --emb`'s refinement, " +
        "oracle-pinned. Fixture re-arrives every 45th vector under a new id so the " +
        "fifth bucket carries data. Scale: the pair join is batch-sized and bucketed " +
        "by cell; CC runs on the (tiny) admitted-pair graph; corpus legs unchanged."
    ) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val batch = emb.filter(col("vec_id") % 9 === 0)
        .unionByName(emb.filter(col("vec_id") % 45 === 0)
          .withColumn("vec_id", col("vec_id") + 2000000L))
      val frame = DedupClusters.ckpt(
        admitEmbeddingFrame(emb.filter(col("vec_id") % 9 =!= 0), batch, nc = NC))
      val losers = admitEmbStrictLosers(frame.filter(!col("near_emb")))
        .withColumn("lose", lit(true))
      frame.join(losers, Seq("vec_id"), "left")
        .select(
          col("vec_id"),
          when(col("near_emb"), "near_dup_corpus_emb")
            .when(coalesce(col("lose"), lit(false)), "near_dup_batch_emb")
            .otherwise("admitted").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_vecs"), expr("bit_xor(vec_id)").as("checksum"))
        .orderBy("status")
    },

    // ----- x74 esigs compact: emb-state reconciliation (`Cli admit --esigs --compact`) -----
    Q(
      "x74_esigs_compact",
      Some {
        // state fixture = every vector's assign row + a planted RETRY
        // double-append (every 7th); the corpus then loses every 5th
        // vector to a re-filter — compaction drops removed states and
        // collapses doubles, mirroring x74_sigs_compact one signal down
        s"WITH $normCtes, $kmeansRankedSql, " +
          "a0 AS (SELECT vec_id AS cv_id, cid FROM r0 WHERE rn = 1), " +
          "s0 AS (SELECT cv_id, cid FROM a0 " +
          "UNION ALL SELECT cv_id, cid FROM a0 WHERE cv_id % 7 = 0), " +
          "live AS (SELECT vec_id FROM e WHERE vec_id % 5 <> 0), " +
          "c AS (SELECT DISTINCT s0.cv_id, s0.cid FROM s0 " +
          "JOIN live ON live.vec_id = s0.cv_id) " +
          "SELECT cv_id % 10 AS decile, CAST(count(*) AS BIGINT) AS n_vecs, " +
          "CAST(bit_xor(cv_id) AS BIGINT) AS id_xor, " +
          "CAST(bit_xor(cid) AS BIGINT) AS cid_xor " +
          "FROM c GROUP BY 1 ORDER BY 1"
      },
      "emb-state COMPACTION (`Cli admit --esigs --compact`): the append-only assign " +
        "table drifts from the corpus exactly like the text sidecar — docs removed by a " +
        "re-filter leave STALE VECTORS that keep voting near_dup_corpus_emb (tomorrow's " +
        "rewording of deleted content is rejected against vectors the corpus no longer " +
        "has), and retried appends double rows. compactEmbAssign keeps one assign row " +
        "per cv_id still in the live ID set: one left_semi on the 8-byte id (the corpus " +
        "contributes ID PROJECTION only — never embeddings) + one keep-one shuffle; " +
        "centroids stay frozen (compaction never retrains — x79's add-vs-train rule). " +
        "Fixture plants both drift modes (double-append every 7th, remove every 5th); " +
        "per-decile count + id/cell checksums pin the exact surviving membership."
    ) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val vi = fixedPoint(emb)
      val assign = quantizerRanked(vi, trainQuantizer(vi, NC)).filter(col("rn") === 1)
        .select(col("vec_id").as("cv_id"), col("cid"),
          col("v").as("cv"), col("nrm").as("cn"))
      compactEmbAssign(
        assign.unionByName(assign.filter(col("cv_id") % 7 === 0)),
        emb.filter(col("vec_id") % 5 =!= 0).select("vec_id"))
        .groupBy((col("cv_id") % 10).as("decile"))
        .agg(
          count(lit(1)).as("n_vecs"),
          expr("bit_xor(cv_id)").as("id_xor"),
          expr("bit_xor(cid)").as("cid_xor"))
        .orderBy("decile")
    },

    // ----- x39: quality-filtered semantic search (cross-table composition) -----
    Q(
      "x39_quality_knn",
      Some {
        val rules = TextAnalysis.gopherRules.mkString(" AND ")
        s"WITH ${TextAnalysis.gopherSqlCtes("")}, " +
          s"k AS (SELECT doc_id FROM r WHERE $rules), " +
          "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings " +
          "JOIN k ON vec_id = doc_id), " +
          "n AS (SELECT vec_id, v, " +
          "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e), " +
          "s2 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          s"$cosSql AS cos FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id), " +
          "r2 AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank " +
          "FROM s2) " +
          "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r2 " +
          "WHERE rank <= 3 ORDER BY query_id, rank"
      },
      "the composed pipeline a retrieval corpus runs: Gopher/C4 quality filter on the TEXT " +
        "table (one native pass, no shuffle) -> semi-join the EMBEDDINGS table down to " +
        "surviving docs -> exact cosine top-3 among survivors. Low-quality docs can't be " +
        "retrieved AND can't crowd out good neighbors. The filter prunes before any " +
        "pairwise work, the doc_id=vec_id join is a broadcast-able key join, and the kNN " +
        "inherits x06's broadcast-query shape; swap knnBrute for knnLsh at 100 TB."
    ) { (s, dir) =>
      val kept = TextAnalysis.qualityFilter(table(s, dir, "documents")).select("doc_id")
      val emb = table(s, dir, "embeddings")
        .join(kept, col("vec_id") === col("doc_id")).drop("doc_id")
      knnBrute(emb, col("vec_id") < 10).orderBy("query_id", "rank")
    },

    // ----- x41: hard-negative mining (top cross-label neighbors) -----
    Q(
      "x41_hard_negatives",
      Some(
        s"WITH $normCtes, " +
          "l AS (SELECT n.vec_id, n.v, n.nrm, e2.label FROM n " +
          "JOIN embeddings e2 ON e2.vec_id = n.vec_id), " +
          "s2 AS (SELECT q.vec_id AS query_id, q.label AS q_label, " +
          "c.vec_id AS neighbor_id, c.label AS n_label, " +
          "list_aggregate(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * c.v[i]), 'sum') " +
          "/ (q.nrm * c.nrm) AS cos " +
          "FROM l q JOIN l c ON q.vec_id < 10 AND c.label <> q.label), " +
          "r2 AS (SELECT query_id, q_label, neighbor_id, n_label, round(cos, 4) AS cos4, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank " +
          "FROM s2) " +
          "SELECT query_id, CAST(q_label AS BIGINT) AS q_label, CAST(rank AS BIGINT) AS rank, " +
          "neighbor_id, CAST(n_label AS BIGINT) AS n_label, cos4 " +
          "FROM r2 WHERE rank <= 3 ORDER BY query_id, rank"),
      "hard-negative mining for contrastive training: for each query vector, the top-3 most " +
        "similar vectors with a DIFFERENT label — the negatives that actually teach a " +
        "bi-encoder. Same broadcast-query + one-corpus-scan shape as x06 with the label " +
        "inequality pushed into the join; at 100 TB route through the x07 LSH tables first " +
        "and apply the label filter on candidates. First operator to exercise the " +
        "embeddings.label column; cosines reported round-4 like x05."
    ) { (s, dir) =>
      hardNegatives(table(s, dir, "embeddings"), col("vec_id") < 10)
        .orderBy("query_id", "rank")
    },

    // ----- x46: label-centroid similarity matrix -----
    Q(
      "x46_label_centroids",
      Some(
        "WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, " +
          "embedding::DOUBLE[] AS v FROM embeddings), " +
          s"vi AS (SELECT vec_id, label, list_transform(v, " +
          s"x -> CAST(floor(x * $VSCALE) AS BIGINT)) AS vi FROM e), " +
          "s AS (SELECT label, t.i, SUM(vi[t.i]) AS sx, count(*) AS n " +
          "FROM vi CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY label, t.i), " +
          "m AS (SELECT label, CAST(max(n) AS BIGINT) AS n, " +
          "list(CAST(floor(sx::DOUBLE / n) AS BIGINT)::DOUBLE ORDER BY i) AS ci " +
          "FROM s GROUP BY label), " +
          "p AS (SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b, " +
          "a.ci AS ca, b.ci AS cb FROM m a JOIN m b ON a.label < b.label), " +
          "d AS (SELECT label_a, label_b, n_a, n_b, " +
          "list_aggregate(list_transform(generate_series(1, 64), i -> ca[i] * cb[i]), 'sum') AS dab, " +
          "list_aggregate(list_transform(generate_series(1, 64), i -> ca[i] * ca[i]), 'sum') AS daa, " +
          "list_aggregate(list_transform(generate_series(1, 64), i -> cb[i] * cb[i]), 'sum') AS dbb " +
          "FROM p) " +
          "SELECT label_a, label_b, n_a, n_b, " +
          "round(dab / (sqrt(daa) * sqrt(dbb)), 4) AS cos4 " +
          "FROM d ORDER BY label_a, label_b"),
      "label-centroid similarity matrix: per-label fixed-point mean embedding (the x13 " +
        "centroid arithmetic — floor(sum/n) on 2^20-scaled longs, bit-identical " +
        "cross-engine), cosine between every label pair. The curriculum diagnostic behind " +
        "x41: confusable class pairs (high centroid cosine) deserve more hard negatives. " +
        "Corpus-scale work is one (label, dim) aggregation with map-side partials; the " +
        "centroid table is |labels| rows, so the pairwise join never touches the corpus."
    ) { (s, dir) =>
      labelCentroidSim(table(s, dir, "embeddings")).orderBy("label_a", "label_b")
    },

    // ----- x07: LSH-bucketed ANN (the scale path) -----
    Q(
      "x07_knn_lsh",
      Some {
        val bucketList = (0 until NL).map(bucketSqlT).mkString(", ")
        val tblList = (0 until NL).mkString(", ")
        s"WITH $normCtes, " +
          s"bkt AS (SELECT vec_id, unnest([$bucketList]) AS bucket, " +
          s"unnest([$tblList]) AS tbl FROM n), " +
          "cand AS (SELECT DISTINCT b1.vec_id AS query_id, b2.vec_id AS neighbor_id " +
          "FROM bkt b1 JOIN bkt b2 ON b1.tbl = b2.tbl AND b1.bucket = b2.bucket " +
          "AND b2.vec_id <> b1.vec_id WHERE b1.vec_id < 10), " +
          "s AS (SELECT query_id, neighbor_id, " +
          s"$cosSql AS cos FROM cand " +
          "JOIN n q ON q.vec_id = query_id JOIN n c ON c.vec_id = neighbor_id), " +
          "r AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
          "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r WHERE rank <= 3 " +
          "ORDER BY query_id, rank"
      },
      s"random-hyperplane LSH, $NL independent tables of $NP planes: per-row bucket signatures " +
        "(no shuffle to compute), candidates = collision in ANY table (union lifts recall from p^4 " +
        "to 1-(1-p^4)^4), joins keyed on (table, bucket) — never O(n^2)"
    ) { (s, dir) =>
      knnLsh(table(s, dir, "embeddings"), col("vec_id") < 10)
        .orderBy("query_id", "rank")
    },

    // ----- x52: cluster-balanced quality cap (diversity-preserving selection) -----
    Q(
      "x52_cluster_cap",
      Some(
        s"WITH $normCtes, $kmeansRankedSql, " +
          "asg AS (SELECT vec_id, cid FROM r0 WHERE rn = 1), " +
          s"${TextAnalysis.qualityPerDocSqlCtes}, " +
          "j AS (SELECT a.vec_id, a.cid, q.n_tok, q.score_e4, " +
          "ROW_NUMBER() OVER (PARTITION BY a.cid ORDER BY q.score_e4 DESC, a.vec_id) AS rk " +
          "FROM asg a JOIN qd q ON q.doc_id = a.vec_id) " +
          "SELECT CAST(cid AS BIGINT) AS cid, count(*) AS n_docs, " +
          s"CAST(sum(CASE WHEN rk <= $ClusterCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
          s"CAST(sum(CASE WHEN rk <= $ClusterCap THEN score_e4 ELSE 0 END) AS BIGINT) AS kept_score_e4, " +
          s"CAST(sum(CASE WHEN rk <= $ClusterCap THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tok " +
          "FROM j GROUP BY cid ORDER BY cid"),
      "cluster-balanced quality selection: x13's fixed-point k-means assigns every embedding " +
        s"to a semantic cluster, the joined docs rank by the x09 quality score inside each, and at most $ClusterCap " +
        "survive per cluster — the DataComp-style diversity cap (no mode of the corpus can " +
        "dominate the kept set). The rank window is partitioned by cid (a kept-only consumer " +
        "gets a per-cid WindowGroupLimit, spec-asserted), centroids are a broadcast, and the " +
        "doc join is keyed on vec_id = doc_id — no global sort; nc is pinned to the oracle " +
        "literal here, library callers get corpus-proportional nc by default."
    ) { (s, dir) =>
      clusterCapped(table(s, dir, "embeddings"), table(s, dir, "documents"), nc = NC)
        .groupBy("cid")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("score_e4")).otherwise(0L)).as("kept_score_e4"),
          sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("kept_tok"))
        .orderBy("cid")
    },

    // ----- x54: prototype pruning (keep the hardest half per cluster) -----
    Q(
      "x54_proto_prune",
      Some(
        s"WITH $normCtes, $kmeansRankedSql, " +
          "asg AS (SELECT vec_id, cid, CAST(dist AS BIGINT) AS dist FROM r0 WHERE rn = 1), " +
          "r AS (SELECT vec_id, cid, dist, " +
          "ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist DESC, vec_id) AS rk, " +
          "CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n FROM asg), " +
          "k AS (SELECT cid, dist, rk <= (n + 1) // 2 AS kept, n FROM r) " +
          "SELECT CAST(cid AS BIGINT) AS cid, CAST(max(n) AS BIGINT) AS n_vecs, " +
          "CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
          "CAST(sum(CASE WHEN kept THEN dist ELSE 0 END) AS BIGINT) AS kept_dist_sum, " +
          "CAST(min(CASE WHEN kept THEN dist END) AS BIGINT) AS min_kept_dist " +
          "FROM k GROUP BY cid ORDER BY cid"),
      "prototype pruning (Sorscher et al. 2022): the self-supervised pruning metric is " +
        "distance to the assigned k-means centroid — prototypical (close) examples are the " +
        "ones large-scale training can afford to drop, so keep the hardest ceil(n/2) per " +
        "cluster. Distances are x13's exact fixed-point integers, the hardness window is " +
        "partitioned by cid and shares its shuffle with the cluster-size count — one keyed " +
        "exchange, no global sort; nc pinned to the oracle literal, library callers pass " +
        "corpus-proportional nc."
    ) { (s, dir) =>
      protoPrune(table(s, dir, "embeddings"), nc = NC)
        .groupBy("cid")
        .agg(
          max("n").as("n_vecs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("dist")).otherwise(0L)).as("kept_dist_sum"),
          min(when(col("kept"), col("dist"))).as("min_kept_dist"))
        .orderBy("cid")
    },

    // ----- x55: bitext-mining margin scoring (cross-lingual alignment) -----
    Q(
      "x55_bitext_margin",
      Some(
        s"WITH $normCtes, " +
          "l AS (SELECT n.vec_id, n.v, n.nrm, d.lang FROM n " +
          "JOIN documents d ON d.doc_id = n.vec_id), " +
          "s2 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          "list_aggregate(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * c.v[i]), 'sum') " +
          "/ (q.nrm * c.nrm) AS cos " +
          "FROM l q JOIN l c ON q.vec_id < 50 AND q.lang <> 'en' AND c.lang = 'en'), " +
          "r2 AS (SELECT query_id, neighbor_id, cos, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank " +
          "FROM s2), " +
          "p AS (SELECT query_id, " +
          "max(CASE WHEN rank = 1 THEN neighbor_id END) AS best_id, " +
          "max(CASE WHEN rank = 2 THEN neighbor_id END) AS second_id, " +
          "max(CASE WHEN rank = 1 THEN cos END) AS c1, " +
          "max(CASE WHEN rank = 2 THEN cos END) AS c2 " +
          "FROM r2 WHERE rank <= 2 GROUP BY query_id) " +
          "SELECT query_id, best_id, second_id, round(c1, 4) AS cos_best4, " +
          "round(c1 - c2, 4) AS margin4 FROM p ORDER BY query_id"),
      "bitext-mining margin scoring (Artetxe & Schwenk 2019): for each non-English doc the " +
        "best English neighbor by cosine AND the difference margin vs the runner-up — raw " +
        "cosine ranking over-selects hub vectors, the margin demotes them (a hub's runner-up " +
        "is nearly as close). Cross-table composition: embeddings supply geometry, documents " +
        "supply the language split on vec_id = doc_id. Broadcast-query one-scan shape (the " +
        "x06/x41 exact baseline); at 100 TB route candidates through the x13 IVF lists and " +
        "margin candidates only."
    ) { (s, dir) =>
      bitextMargin(
        table(s, dir, "embeddings"), table(s, dir, "documents"),
        isQuery = col("vec_id") < 50)
        .orderBy("query_id")
    },

    // ----- x58: product quantization (PQ codebooks + codes) -----
    Q(
      "x58_pq_codebook",
      Some {
        val chains = (0 until PqM).map(s => pqKmeansSql(s, NC, PqSub)).mkString(", ")
        val union = (0 until PqM)
          .map(s => s"SELECT CAST($s AS BIGINT) AS m, vec_id, cid, dist FROM r0_m$s WHERE rn = 1")
          .mkString(" UNION ALL ")
        s"WITH $normCtes, " +
          s"vi0 AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * $VSCALE) AS BIGINT)) " +
          "AS vfull FROM n), " +
          s"$chains, u AS ($union) " +
          "SELECT m, cid AS code, count(*) AS n_vecs, CAST(sum(dist) AS BIGINT) AS sum_sqerr " +
          "FROM u GROUP BY 1, 2 ORDER BY 1, 2"
      },
      s"product quantization (Jégou et al. 2011): $PqM independent fixed-point k-means " +
        s"codebooks over $PqSub-dim subvectors — ${NC}^$PqM effective cells from ${PqM * NC} " +
        "centroids, the memory/recall step FAISS composes with the x13 coarse quantizer " +
        "(IVFPQ); a vector's code is m bytes instead of 64 floats. Registered as the " +
        "codebook census (per (subspace, code): population + exact integer reconstruction " +
        "error) so the oracle pins every assignment through the same bit-identical k-means " +
        "twin as x13/x30. Training = NITER bounded scans of a materialized 2-column frame " +
        "per subspace; assignment = broadcast joins + per-row argmin, corpus never shuffled."
    ) { (s, dir) =>
      pqCodes(table(s, dir, "embeddings"))
        .groupBy(col("m"), col("code"))
        .agg(count(lit(1)).as("n_vecs"), sum("sqerr").as("sum_sqerr"))
        .orderBy("m", "code")
    },

    // ----- x59: ADC search over PQ codes (the IVFPQ search half) -----
    Q(
      "x59_pq_adc",
      Some {
        val chains = (0 until PqM).map(s => pqKmeansSql(s, NC, PqSub)).mkString(", ")
        val legs = (0 until PqM).map { s =>
          s"SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, " +
            s"list_aggregate(list_transform(generate_series(1, $PqSub), " +
            "i -> (q.vi[i] - c.ci[i]) * (q.vi[i] - c.ci[i])), 'sum') AS d " +
            s"FROM r0_m$s a JOIN c${NITER}_m$s c ON a.rn = 1 AND c.cid = a.cid " +
            s"CROSS JOIN vi_m$s q WHERE q.vec_id < 10"
        }.mkString(" UNION ALL ")
        s"WITH $normCtes, " +
          s"vi0 AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * $VSCALE) AS BIGINT)) " +
          "AS vfull FROM n), " +
          s"$chains, u AS ($legs), " +
          "adc AS (SELECT query_id, neighbor_id, CAST(sum(d) AS BIGINT) AS adc FROM u " +
          "WHERE neighbor_id <> query_id GROUP BY 1, 2), " +
          "r AS (SELECT query_id, neighbor_id, adc, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM adc) " +
          "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc FROM r " +
          "WHERE rank <= 3 ORDER BY query_id, rank"
      },
      "ADC top-3 for the x06 query set — the search half of IVFPQ (Jégou et al. 2011): per " +
        s"query, an integer distance table to all ${PqM * NC} codebook centroids " +
        "(driver-bounded, broadcast); the corpus is touched ONLY through its PQ codes — " +
        "dist(q, x) = sum over subspaces of table[m][code], one broadcast join on (m, code) " +
        "plus a per-(query, vector) sum. Corpus embeddings are never read at query time; at " +
        "100 TB the code table (m bytes/vector) rides in memory beside the x13 inverted " +
        "lists. Exact integer arithmetic end to end; recall vs the x06 exact top-3 is " +
        "spec-measured."
    ) { (s, dir) =>
      pqAdcKnn(table(s, dir, "embeddings"), col("vec_id") < 10)
        .orderBy("query_id", "rank")
    },

    // ----- x60: ADC shortlist + exact rerank (production IVFPQ search) -----
    Q(
      "x60_pq_rerank",
      Some {
        val chains = (0 until PqM).map(s => pqKmeansSql(s, NC, PqSub)).mkString(", ")
        val legs = (0 until PqM).map { s =>
          s"SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, " +
            s"list_aggregate(list_transform(generate_series(1, $PqSub), " +
            "i -> (q.vi[i] - c.ci[i]) * (q.vi[i] - c.ci[i])), 'sum') AS d " +
            s"FROM r0_m$s a JOIN c${NITER}_m$s c ON a.rn = 1 AND c.cid = a.cid " +
            s"CROSS JOIN vi_m$s q WHERE q.vec_id < 10"
        }.mkString(" UNION ALL ")
        s"WITH $normCtes, " +
          s"vi0 AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * $VSCALE) AS BIGINT)) " +
          "AS vfull FROM n), " +
          s"$chains, u AS ($legs), " +
          "adc AS (SELECT query_id, neighbor_id, CAST(sum(d) AS BIGINT) AS adc FROM u " +
          "WHERE neighbor_id <> query_id GROUP BY 1, 2), " +
          "r AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM adc), " +
          "sl AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 50), " +
          "ex AS (SELECT s.query_id, s.neighbor_id, " +
          "list_aggregate(list_transform(generate_series(1, 64), " +
          "i -> (q.vfull[i] - c.vfull[i]) * (q.vfull[i] - c.vfull[i])), 'sum') AS sqdist " +
          "FROM sl s JOIN vi0 q ON q.vec_id = s.query_id " +
          "JOIN vi0 c ON c.vec_id = s.neighbor_id), " +
          "r2 AS (SELECT query_id, neighbor_id, CAST(sqdist AS BIGINT) AS sqdist, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sqdist, neighbor_id) AS rank FROM ex) " +
          "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sqdist FROM r2 " +
          "WHERE rank <= 3 ORDER BY query_id, rank"
      },
      "the production IVFPQ search: x59's code-only ADC ranks a 50-candidate shortlist per " +
        "query, then ONLY those candidates are re-scored with the exact fixed-point " +
        "squared-L2 and re-ranked (FAISS refine). Full vectors are read for shortlist x |q| " +
        "rows; the corpus-wide pass stays m-bytes-per-vector. Raw 32-bit codes recall ~0.2 " +
        "on the synthetic near-uniform embeddings (PQ's worst case, spec-measured); the " +
        "rerank recovers the exact-L2 top-k (recall floor spec-pinned)."
    ) { (s, dir) =>
      pqAdcRerank(table(s, dir, "embeddings"), col("vec_id") < 10)
        .orderBy("query_id", "rank")
    },

    // ----- x68: true IVFPQ (coarse cells + residual PQ + nprobe ADC + rerank) -----
    Q(
      "x68_ivfpq",
      Some {
        // residual PQ chains: pqKmeansSql runs unchanged over vi0, which
        // here holds RESIDUALS (vector minus assigned coarse centroid)
        // instead of raw vectors
        val chains = (0 until PqM).map(s => pqKmeansSql(s, NC, PqSub)).mkString(", ")
        val legs = (0 until PqM).map { s =>
          val off = s * PqSub
          s"SELECT q.query_id, v.vec_id AS neighbor_id, " +
            s"list_aggregate(list_transform(generate_series(1, $PqSub), " +
            s"i -> (q.qr[$off + i] - c.ci[i]) * (q.qr[$off + i] - c.ci[i])), 'sum') AS d " +
            s"FROM qres q JOIN res v ON v.cid = q.cid " +
            s"JOIN r0_m$s a ON a.vec_id = v.vec_id AND a.rn = 1 " +
            s"JOIN c${NITER}_m$s c ON c.cid = a.cid " +
            "WHERE v.vec_id <> q.query_id"
        }.mkString(" UNION ALL ")
        s"WITH $normCtes, $kmeansRankedSql, " +
          "asg AS (SELECT vec_id, cid FROM r0 WHERE rn = 1), " +
          s"res AS (SELECT a.vec_id, a.cid, list_transform(generate_series(1, 64), " +
          s"i -> vi.vi[i] - c.ci[i]) AS rv FROM asg a JOIN vi ON vi.vec_id = a.vec_id " +
          s"JOIN c$NITER c ON c.cid = a.cid), " +
          "vi0 AS (SELECT vec_id, rv AS vfull FROM res), " +
          s"$chains, " +
          s"probe AS (SELECT vec_id, cid FROM r0 WHERE rn <= $NPROBE AND vec_id < 10), " +
          s"qres AS (SELECT p.vec_id AS query_id, p.cid, " +
          "list_transform(generate_series(1, 64), i -> vi.vi[i] - c.ci[i]) AS qr " +
          s"FROM probe p JOIN vi ON vi.vec_id = p.vec_id JOIN c$NITER c ON c.cid = p.cid), " +
          s"u AS ($legs), " +
          "adc AS (SELECT query_id, neighbor_id, CAST(sum(d) AS BIGINT) AS adc FROM u " +
          "GROUP BY 1, 2), " +
          "r AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS srn FROM adc), " +
          "sl AS (SELECT query_id, neighbor_id FROM r WHERE srn <= 50), " +
          "ex AS (SELECT s.query_id, s.neighbor_id, " +
          "list_aggregate(list_transform(generate_series(1, 64), " +
          "i -> (q.vi[i] - c.vi[i]) * (q.vi[i] - c.vi[i])), 'sum') AS sqdist " +
          "FROM sl s JOIN vi q ON q.vec_id = s.query_id " +
          "JOIN vi c ON c.vec_id = s.neighbor_id), " +
          "r2 AS (SELECT query_id, neighbor_id, CAST(sqdist AS BIGINT) AS sqdist, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sqdist, neighbor_id) AS rank FROM ex) " +
          "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sqdist FROM r2 " +
          "WHERE rank <= 3 ORDER BY query_id, rank"
      },
      "true IVFPQ (Jégou et al. 2011; FAISS IndexIVFPQ) — x13's coarse cells composed with " +
        "x58-x60's PQ machinery: every vector stores cell id + 4 codes of its RESIDUAL " +
        "(shared codebooks, FAISS default); search probes the 2 nearest cells per query, " +
        "ADC-scans ONLY those cells' codes with per-(query, cell) residual distance tables, " +
        "then exactly reranks the 50-candidate shortlist. The decisive scale property over " +
        "x59: the candidate scan is bounded by nprobe/nc of the corpus, with the corpus " +
        "resident as cid + m bytes per vector; centroids and distance tables are " +
        "driver-bounded broadcasts. Fixed-point end to end, so every assignment, code and " +
        "distance is oracle-exact; recall vs the exact x06 top-k is spec-measured."
    ) { (s, dir) =>
      ivfPqKnn(table(s, dir, "embeddings"), col("vec_id") < 10)
        .orderBy("query_id", "rank")
    },

    // ----- x79: incremental IVFPQ add (index maintenance without retrain) -----
    Q(
      "x79_ivfpq_add",
      Some {
        val chains = (0 until PqM).map(s => pqKmeansSql(s, NC, PqSub)).mkString(", ")
        def sqd(sub: Int, a: String, b: String) =
          s"list_aggregate(list_transform(generate_series(1, $sub), " +
            s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum')"
        // base per-vector qerr: winning dist per subspace, summed
        val baseLegs = (0 until PqM)
          .map(s => s"SELECT vec_id, dist FROM r0_m$s WHERE rn = 1")
          .mkString(" UNION ALL ")
        // batch slices coded against the FROZEN per-subspace codebooks
        val addLegs = (0 until PqM).map { s =>
          val off = s * PqSub
          s"SELECT vec_id, dist FROM (SELECT b.vec_id, c.cid, " +
            s"${sqd(PqSub, s"b.rv[$off + 1:$off + $PqSub]", "c.ci")} AS dist, " +
            s"ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY " +
            s"${sqd(PqSub, s"b.rv[$off + 1:$off + $PqSub]", "c.ci")}, c.cid) AS rn " +
            s"FROM br b CROSS JOIN c$NITER" + s"_m$s c) WHERE rn = 1"
        }.mkString(" UNION ALL ")
        s"WITH $normCtes, $kmeansRankedSql, " +
          "asg AS (SELECT vec_id, cid FROM r0 WHERE rn = 1), " +
          "res AS (SELECT a.vec_id, a.cid, list_transform(generate_series(1, 64), " +
          s"i -> vi.vi[i] - c.ci[i]) AS rv FROM asg a JOIN vi ON vi.vec_id = a.vec_id " +
          s"JOIN c$NITER c ON c.cid = a.cid), " +
          "vi0 AS (SELECT vec_id, rv AS vfull FROM res), " +
          s"$chains, " +
          s"bq AS (SELECT vec_id, CAST(sum(dist) AS BIGINT) AS qerr FROM ($baseLegs) GROUP BY 1), " +
          // the arriving batch: every 7th base vector re-embedded with a
          // deterministic integer perturbation and a fresh id
          "bv0 AS (SELECT vec_id AS bid, vi FROM vi WHERE vec_id % 7 = 0), " +
          "bv AS (SELECT bid + 1000000 AS vec_id, list_transform(generate_series(1, 64), " +
          "i -> vi[i] + ((bid + i - 1) % 7 - 3) * 1024) AS vi FROM bv0), " +
          s"bd AS (SELECT b.vec_id, c.cid, ${sqd(64, "b.vi", "c.ci")} AS dist " +
          s"FROM bv b CROSS JOIN c$NITER c), " +
          "ba AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
          "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM bd) " +
          "WHERE rn = 1), " +
          "br AS (SELECT a.vec_id, a.cid, list_transform(generate_series(1, 64), " +
          s"i -> b.vi[i] - c.ci[i]) AS rv FROM ba a JOIN bv b ON b.vec_id = a.vec_id " +
          s"JOIN c$NITER c ON c.cid = a.cid), " +
          s"bq2 AS (SELECT vec_id, CAST(sum(dist) AS BIGINT) AS qerr FROM ($addLegs) GROUP BY 1), " +
          "base AS (SELECT res.cid, CAST(count(*) AS BIGINT) AS n_base, " +
          "CAST(sum(bq.qerr) AS BIGINT) AS base_qerr FROM res JOIN bq USING (vec_id) GROUP BY 1), " +
          "ad AS (SELECT br.cid, CAST(count(*) AS BIGINT) AS n_add, " +
          "CAST(sum(bq2.qerr) AS BIGINT) AS add_qerr FROM br JOIN bq2 USING (vec_id) GROUP BY 1) " +
          "SELECT coalesce(base.cid, ad.cid) AS cid, " +
          "CAST(coalesce(n_base, 0) AS BIGINT) AS n_base, " +
          "CAST(coalesce(n_add, 0) AS BIGINT) AS n_add, " +
          "CAST(coalesce(base_qerr, 0) AS BIGINT) AS base_qerr, " +
          "CAST(coalesce(add_qerr, 0) AS BIGINT) AS add_qerr " +
          "FROM base FULL JOIN ad ON base.cid = ad.cid ORDER BY 1"
      },
      "incremental IVFPQ ADD — x74's daily-ingest posture applied to the ANN index: the " +
        "coarse centroids and PQ codebooks stay FROZEN (trained on the base corpus); an " +
        "arriving batch (every 7th vector, deterministically perturbed, fresh ids) is " +
        "assigned to its nearest existing cell and residual-coded with the existing " +
        "codebooks — FAISS's add-vs-train distinction as DataFrame algebra. Output per " +
        "cell: base/add counts and summed integer quantization error, so " +
        "add_qerr/n_add drifting above base_qerr/n_base is the retrain trigger an index " +
        "owner watches. At 100 TB the add path never touches the corpus — both " +
        "assignment joins are against driver-resident broadcast centroids, zero shuffle " +
        "beyond the |cells|-row rollup; base statistics amortize across daily adds."
    ) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val batch = fixedPoint(emb)
        .filter(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("bid"), col("vi"))
        .select((col("bid") + 1000000L).as("vec_id"),
          transform(col("vi"),
            (x, i) => x + (((col("bid") + i) % 7) - 3) * 1024L).as("vi"))
      ivfPqAdd(emb, batch).orderBy("cid")
    },

    // ----- x85: label-retrieval eval (MRR / hits@k of the embedding space) -----
    Q(
      "x85_label_retrieval",
      Some {
        val sqd = "list_aggregate(list_transform(generate_series(1, 64), " +
          "i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])), 'sum')"
        s"WITH $normCtes, " +
          s"vi AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * $VSCALE) AS BIGINT)) " +
          "AS vi FROM n), " +
          "lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings), " +
          "q AS (SELECT vi.vec_id AS qid, vi.vi AS qv, lb.label AS qlabel " +
          "FROM vi JOIN lb USING (vec_id) WHERE vec_id < 10), " +
          "c AS (SELECT vi.vec_id AS cid2, vi.vi AS cv, lb.label AS clabel " +
          "FROM vi JOIN lb USING (vec_id) WHERE vec_id >= 10), " +
          s"d AS (SELECT qid, qlabel, cid2, clabel, $sqd AS dist FROM q CROSS JOIN c), " +
          "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid2) AS rnk " +
          "FROM d), " +
          "f AS (SELECT qid, qlabel, min(rnk) AS fr FROM r WHERE clabel = qlabel " +
          "GROUP BY 1, 2) " +
          "SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_queries, " +
          "CAST(sum(1000000 // fr) AS BIGINT) AS mrr_sum_e6, " +
          "CAST(sum(CASE WHEN fr <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hit3, " +
          "CAST(sum(CASE WHEN fr <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hit10 " +
          "FROM f GROUP BY 1 ORDER BY 1"
      },
      "label-retrieval evaluation of the embedding space — the metric an embedding (or its " +
        "quantized serving form) is judged by: per query (vec_id < 10), the exact " +
        "fixed-point L2 rank of the first SAME-label corpus vector; per label, " +
        "reciprocal-rank mass (1e6 div rank per query BEFORE summing — order-independent, " +
        "integer-exact) plus hits@3/hits@10. Eval query sets are small, so the queries " +
        "broadcast and the corpus is scanned once (x06's shape) with a |q|-bounded " +
        "window; x68 serves production traffic, this measures what it serves."
    ) { (s, dir) =>
      labelRetrieval(table(s, dir, "embeddings"), col("vec_id") < 10).orderBy("label")
    },

    // ----- x65: dimension-truncation fidelity (Matryoshka audit) -----
    Q(
      "x65_matryoshka",
      Some {
        def dotSql(a: String, b: String, d: Int): String =
          s"list_aggregate(list_transform(generate_series(1, $d), i -> $a[i] * $b[i]), 'sum')"
        def cosSqlD(a: String, b: String, d: Int): String =
          s"(${dotSql(a, b, d)} / (sqrt(${dotSql(a, a, d)}) * sqrt(${dotSql(b, b, d)})))"
        val legs = Seq(8, 16, 32, 64).map { d =>
          s"SELECT CAST($d AS BIGINT) AS dims, query_id, rank, neighbor_id, " +
            s"${cosSqlD("qv", "nv", 64)} AS cf, ${cosSqlD("qv", "nv", d)} AS cp FROM jv"
        }.mkString(" UNION ALL ")
        s"WITH $normCtes, " +
          "s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          s"$cosSql AS cos FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id), " +
          "r AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s), " +
          "t AS (SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3), " +
          "jv AS (SELECT t.query_id, t.rank, t.neighbor_id, q.v AS qv, c.v AS nv " +
          "FROM t JOIN n q ON q.vec_id = t.query_id JOIN n c ON c.vec_id = t.neighbor_id), " +
          s"u AS ($legs), " +
          "p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY dims, query_id " +
          "ORDER BY cp DESC, neighbor_id) AS prn FROM u) " +
          "SELECT dims, count(*) AS n_pairs, " +
          "CAST(sum(CAST(round(abs(cf - cp) * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_absdiff_e4, " +
          "CAST(sum(CASE WHEN rank = 1 AND prn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS top1_preserved " +
          "FROM p GROUP BY dims ORDER BY dims"
      },
      "Matryoshka-representation audit (Kusupati et al. 2022): over the exact full-dim " +
        "top-3 pairs, how faithful is the cosine structure at prefix lengths 8/16/32/64 — " +
        "summed |cos_full - cos_prefix| (per-pair e4 rounding BEFORE the sum keeps the " +
        "aggregate integer-exact and order-independent) and the number of queries whose " +
        "full-dim best neighbor still ranks first under the truncated cosine. The decision " +
        "input for serving truncated embeddings (smaller ANN memory, same corpus) without " +
        "re-embedding. Costly part = the exact top-k (x06 shape); the sweep itself touches " +
        "only |q|*k pairs."
    ) { (s, dir) =>
      matryoshkaFidelity(table(s, dir, "embeddings"), col("vec_id") < 10)
    },

    // ----- x91: RAG index build (chunk -> hash-embed -> quantize -> manifest) -----
    Q(
      "x91_rag_index",
      Some {
        val (wdw, st) = (DataPrep.ChunkW, DataPrep.ChunkS)
        s"WITH w0 AS (SELECT doc_id, ${XText.wordsSql("text")} AS ws FROM documents), " +
          "dd AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nw, " +
          s"1 + CASE WHEN len(ws) > $wdw THEN (len(ws) - $wdw + ${st - 1}) // $st ELSE 0 END " +
          "AS nch FROM w0), " +
          "cc AS (SELECT doc_id, ws, nw, unnest(generate_series(0, nch - 1)) AS i FROM dd), " +
          s"ch AS (SELECT doc_id * $RagIdStride + i AS vec_id, " +
          s"ws[(1 + i * $st):(least(CAST($wdw AS BIGINT), nw - (1 + i * $st) + 1) + i * $st)] " +
          "AS tks FROM cc), " +
          s"bt AS (SELECT vec_id, ${XHash.h60Sql("tk")} AS h FROM " +
          "(SELECT vec_id, unnest(tks) AS tk FROM ch)), " +
          "sv AS (SELECT vec_id, (h % 64) + 1 AS b, " +
          "CAST(sum(((h // 64) % 2) * 2 - 1) AS BIGINT) AS x FROM bt GROUP BY 1, 2), " +
          "vi AS (SELECT g.vec_id, list(coalesce(sv.x, 0) ORDER BY t.i) AS vi " +
          "FROM (SELECT DISTINCT vec_id FROM sv) g " +
          "CROSS JOIN generate_series(1, 64) AS t(i) " +
          "LEFT JOIN sv ON sv.vec_id = g.vec_id AND sv.b = t.i GROUP BY g.vec_id), " +
          kmeansChainSql(RagSeedCap) + " " +
          "SELECT cid, CAST(count(*) AS BIGINT) AS n_chunks, " +
          s"CAST(count(DISTINCT vec_id // $RagIdStride) AS BIGINT) AS n_docs, " +
          "CAST(sum(dist) AS BIGINT) AS sse " +
          "FROM r0 WHERE rn = 1 GROUP BY cid ORDER BY cid"
      },
      "RAG index build as ONE composed job — the retrieval-side x57: chunk every doc " +
        s"(x36's ${DataPrep.ChunkW}/${DataPrep.ChunkS} window/stride geometry), " +
        "embed each chunk by 64-bucket signed feature " +
        "hashing (Weinberger et al. 2009 — vocabulary-free, deterministic, integer from " +
        "birth), train the x13 fixed-point coarse quantizer over the chunk vectors, " +
        "assign every chunk, and emit the per-cell manifest (chunks, distinct parent " +
        "docs, summed squared quantization error). Chunk+hash is one zero-shuffle scan; " +
        "training and assignment are broadcast-centroid joins; the manifest is one " +
        "map-side-combinable groupBy(cid). The index a corpus search layer actually " +
        "ships: (cell -> chunk ids) plus the centroid table."
    ) { (s, dir) =>
      ragIndex(table(s, dir, "documents")).orderBy("cid")
    },

    // ----- x92: RAG retrieval (nprobe search over the x91 index + self-eval) -----
    Q(
      "x92_rag_retrieval",
      Some {
        val (wdw, st) = (DataPrep.ChunkW, DataPrep.ChunkS)
        def sqd(a: String, b: String) =
          "list_aggregate(list_transform(generate_series(1, 64), " +
            s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum')"
        s"WITH w0 AS (SELECT doc_id, ${XText.wordsSql("text")} AS ws FROM documents), " +
          "dd AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nw, " +
          s"1 + CASE WHEN len(ws) > $wdw THEN (len(ws) - $wdw + ${st - 1}) // $st ELSE 0 END " +
          "AS nch FROM w0), " +
          "cc AS (SELECT doc_id, ws, nw, unnest(generate_series(0, nch - 1)) AS i FROM dd), " +
          s"ch AS (SELECT doc_id * $RagIdStride + i AS vec_id, " +
          s"ws[(1 + i * $st):(least(CAST($wdw AS BIGINT), nw - (1 + i * $st) + 1) + i * $st)] " +
          "AS tks FROM cc), " +
          s"bt AS (SELECT vec_id, ${XHash.h60Sql("tk")} AS h FROM " +
          "(SELECT vec_id, unnest(tks) AS tk FROM ch)), " +
          "sv AS (SELECT vec_id, (h % 64) + 1 AS b, " +
          "CAST(sum(((h // 64) % 2) * 2 - 1) AS BIGINT) AS x FROM bt GROUP BY 1, 2), " +
          "vi AS (SELECT g.vec_id, list(coalesce(sv.x, 0) ORDER BY t.i) AS vi " +
          "FROM (SELECT DISTINCT vec_id FROM sv) g " +
          "CROSS JOIN generate_series(1, 64) AS t(i) " +
          "LEFT JOIN sv ON sv.vec_id = g.vec_id AND sv.b = t.i GROUP BY g.vec_id), " +
          kmeansChainSql(RagSeedCap) + ", " +
          "asg AS (SELECT vec_id, cid FROM r0 WHERE rn = 1), " +
          s"nch AS (SELECT vec_id // $RagIdStride AS did, count(*) AS n FROM vi GROUP BY 1), " +
          s"q AS (SELECT vi.vec_id AS qid, vi.vec_id // $RagIdStride AS did, vi.vi AS qv " +
          s"FROM vi JOIN nch ON nch.did = vi.vec_id // $RagIdStride " +
          s"WHERE vi.vec_id % $RagIdStride = 0 " +
          s"AND (vi.vec_id // $RagIdStride) % ${TextAnalysis.BmQMod} = 0 AND nch.n >= 2), " +
          "pr0 AS (SELECT q.qid, q.did, q.qv, c.cid, " +
          s"${sqd("q.qv", "c.ci")} AS cd FROM q CROSS JOIN c$NITER c), " +
          "pr AS (SELECT qid, did, qv, cid FROM (SELECT *, ROW_NUMBER() OVER " +
          s"(PARTITION BY qid ORDER BY cd, cid) AS cr FROM pr0) WHERE cr <= $NPROBE), " +
          "cd0 AS (SELECT pr.qid, pr.did, a.vec_id, " +
          s"${sqd("pr.qv", "vi.vi")} AS d " +
          "FROM pr JOIN asg a USING (cid) JOIN vi ON vi.vec_id = a.vec_id " +
          "WHERE a.vec_id <> pr.qid), " +
          "rk AS (SELECT qid, did, vec_id, ROW_NUMBER() OVER (PARTITION BY qid " +
          "ORDER BY d, vec_id) AS rk FROM cd0), " +
          s"ht AS (SELECT qid, min(rk) AS rk FROM rk WHERE vec_id // $RagIdStride = did " +
          "GROUP BY qid), " +
          "fin AS (SELECT q.qid, q.did, ht.rk FROM q LEFT JOIN ht USING (qid)) " +
          "SELECT d.source, CAST(count(*) AS BIGINT) AS n_queries, " +
          "CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits1, " +
          "CAST(sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits10, " +
          "CAST(sum(coalesce(1000000 // rk, 0)) AS BIGINT) AS sum_rr_e6, " +
          "CAST(sum(coalesce(1000000 // rk, 0)) // count(*) AS BIGINT) AS mrr_e6 " +
          "FROM fin JOIN documents d ON d.doc_id = fin.did " +
          "GROUP BY d.source ORDER BY source"
      },
      s"RAG retrieval over the x91 index with a built-in self-retrieval eval: every " +
        s"${TextAnalysis.BmQMod}th doc with >= 2 chunks queries with its chunk-0 vector, " +
        s"the $NPROBE nearest cells are probed, candidates in those cells are ranked by " +
        "exact integer squared distance, and the best SIBLING-chunk rank (same parent " +
        "doc; overlapping chunks share tokens, so a working index finds them) scores " +
        "the query — per source: queries, hits@1, hits@10, MRR e6. Queries whose " +
        "siblings fall outside the probed cells score 0: the nprobe recall loss, " +
        "measured not assumed. Probing is a broadcast join; only probed cells' chunks " +
        "join the rerank — the IVF contract, end-to-end in text space."
    ) { (s, dir) =>
      ragRetrieval(table(s, dir, "documents")).orderBy("source")
    },

    // ----- x98: embedding-space hubness audit (k-NN graph in-degree) -----
    Q(
      "x98_hubness",
      Some(
        s"WITH $normCtes, " +
          "s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          s"$cosSql AS cos FROM n q JOIN n c ON c.vec_id <> q.vec_id), " +
          "r AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank " +
          "FROM s), " +
          "k AS (SELECT neighbor_id, count(*) AS indeg FROM r WHERE rank <= 3 GROUP BY 1), " +
          "d AS (SELECT n.vec_id, coalesce(k.indeg, 0) AS in_degree FROM n " +
          "LEFT JOIN k ON n.vec_id = k.neighbor_id) " +
          "SELECT CAST(in_degree AS BIGINT) AS in_degree, CAST(count(*) AS BIGINT) AS n_vecs " +
          "FROM d GROUP BY 1 ORDER BY 1"),
      "HUBNESS audit of the embedding space (Radovanović et al. 2010): the in-degree " +
        "distribution of the exact top-3 cosine graph over ALL vectors — n_vecs per " +
        "N_k value, including in_degree = 0 (antihubs, vectors NO shortlist ever " +
        "returns). A heavy right tail means a few hubs dominate every dedup/RAG " +
        "shortlist; the fixture shows a healthy near-binomial spread (~7% antihubs). " +
        "The audit is graph-agnostic — compose [[hubnessFromKnn]] with the x07/x13/x59 " +
        "ANN graphs for the 100 TB path, where it measures the graph retrieval " +
        "actually uses; in-degree is one keyed count plus a keyed zero-completion " +
        "join, output is one row per distinct degree."
    ) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      hubnessFromKnn(knnBrute(emb, lit(true)), emb).orderBy("in_degree")
    },

    // ----- x98b: hubness of the ANN graph — the production posture -----
    Q(
      "x98_hubness_ann",
      Some {
        val bucketList = (0 until NL).map(bucketSqlT).mkString(", ")
        val tblList = (0 until NL).mkString(", ")
        s"WITH $normCtes, " +
          s"bkt AS (SELECT vec_id, unnest([$bucketList]) AS bucket, " +
          s"unnest([$tblList]) AS tbl FROM n), " +
          "cand AS (SELECT DISTINCT b1.vec_id AS query_id, b2.vec_id AS neighbor_id " +
          "FROM bkt b1 JOIN bkt b2 ON b1.tbl = b2.tbl AND b1.bucket = b2.bucket " +
          "AND b2.vec_id <> b1.vec_id), " +
          "s AS (SELECT query_id, neighbor_id, " +
          s"$cosSql AS cos FROM cand " +
          "JOIN n q ON q.vec_id = query_id JOIN n c ON c.vec_id = neighbor_id), " +
          "r AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s), " +
          "k AS (SELECT neighbor_id, count(*) AS indeg FROM r WHERE rank <= 3 GROUP BY 1), " +
          "d AS (SELECT n.vec_id, coalesce(k.indeg, 0) AS in_degree FROM n " +
          "LEFT JOIN k ON n.vec_id = k.neighbor_id) " +
          "SELECT CAST(in_degree AS BIGINT) AS in_degree, CAST(count(*) AS BIGINT) AS n_vecs " +
          "FROM d GROUP BY 1 ORDER BY 1"
      },
      "x98's production posture: the same in-degree audit over the graph retrieval " +
        "ACTUALLY uses at scale — x07's random-hyperplane LSH top-3 graph (every " +
        "vector as query) instead of the all-pairs exact graph. Candidate pairs are " +
        "keyed on (table, bucket) collisions, never O(n^2); hubness of the ANN graph " +
        "is the operationally relevant number, since hubs only hurt through the " +
        "shortlists the deployed index returns (Radovanovic et al. 2010). " +
        "in_degree = 0 rows count vectors no LSH shortlist ever returns — antihubs " +
        "plus vectors whose buckets collide with nothing."
    ) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      hubnessFromKnn(knnLsh(emb, lit(true)), emb).orderBy("in_degree")
    },

    // ----- x106: embedding norm audit (pre-index QA gate) -----
    Q(
      "x106_norm_audit",
      Some(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "n AS (SELECT vec_id, v, " +
          "CAST(floor(sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) * 1000000) " +
          "AS BIGINT) AS nrm_e6, " +
          "CASE WHEN list_min(v) = list_max(v) THEN 1 ELSE 0 END AS is_const FROM e), " +
          "j AS (SELECT coalesce(d.source, '(unmapped)') AS source, n.nrm_e6, n.is_const " +
          "FROM n LEFT JOIN documents d ON d.doc_id = n.vec_id) " +
          "SELECT source, CAST(count(*) AS BIGINT) AS n_vecs, " +
          "CAST(sum(CASE WHEN nrm_e6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero, " +
          "CAST(sum(is_const) AS BIGINT) AS n_const, " +
          "CAST(min(nrm_e6) AS BIGINT) AS min_norm_e6, " +
          "CAST(max(nrm_e6) AS BIGINT) AS max_norm_e6, " +
          "CAST(sum(nrm_e6) AS BIGINT) AS sum_norm_e6 " +
          "FROM j GROUP BY source ORDER BY source"),
      "embedding NORM AUDIT — the QA gate before any ANN index or cosine dedup: " +
        "per source, vector count, zero-norm vectors (no cosine direction; one " +
        "NaN-poisons every comparison it joins), constant-dim vectors (the broken " +
        "encoder-batch failure mode), and the norm min/max/sum in e6 fixed point " +
        "(per-row floor, so every aggregate is an order-independent integer and the " +
        "cross-engine compare is exact). Orphaned vectors (vec_id with no document " +
        "row) are reported under '(unmapped)', never dropped — a LEFT join, because " +
        "the malformed rows a QA gate exists to count must not be invisible to it. " +
        "One per-row native-dot pass + a doc-source join + one keyed rollup."
    ) { (s, dir) =>
      embNormAudit(table(s, dir, "embeddings"), table(s, dir, "documents"))
        .orderBy("source")
    },

    // ----- x110: label-noise audit via k-NN label agreement (LSH graph) -----
    Q(
      "x110_label_noise",
      Some {
        val bucketList = (0 until NL).map(bucketSqlT).mkString(", ")
        val tblList = (0 until NL).mkString(", ")
        s"WITH $normCtes, " +
          s"bkt AS (SELECT vec_id, unnest([$bucketList]) AS bucket, " +
          s"unnest([$tblList]) AS tbl FROM n), " +
          "cand AS (SELECT DISTINCT b1.vec_id AS query_id, b2.vec_id AS neighbor_id " +
          "FROM bkt b1 JOIN bkt b2 ON b1.tbl = b2.tbl AND b1.bucket = b2.bucket " +
          "AND b2.vec_id <> b1.vec_id), " +
          "s AS (SELECT query_id, neighbor_id, " +
          s"$cosSql AS cos FROM cand " +
          "JOIN n q ON q.vec_id = query_id JOIN n c ON c.vec_id = neighbor_id), " +
          "r AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s), " +
          "lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings), " +
          "pq AS (SELECT r.query_id, count(*) AS k_found, " +
          "sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS n_same " +
          "FROM r JOIN lab ql ON ql.vec_id = r.query_id " +
          "JOIN lab nl ON nl.vec_id = r.neighbor_id WHERE r.rank <= 3 GROUP BY 1), " +
          "a AS (SELECT l.label, coalesce(pq.k_found, 0) AS k_found, " +
          "coalesce(pq.n_same, 0) AS n_same " +
          "FROM lab l LEFT JOIN pq ON pq.query_id = l.vec_id) " +
          "SELECT label, count(*) AS n_vecs, " +
          "CAST(sum(CASE WHEN k_found = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_isolated, " +
          "CAST(sum(k_found) AS BIGINT) AS sum_k, " +
          "CAST(sum(n_same) AS BIGINT) AS sum_same, " +
          "CAST(sum(CASE WHEN k_found > 0 AND 2 * n_same < k_found THEN 1 ELSE 0 END) " +
          "AS BIGINT) AS n_suspect, " +
          "CAST(CASE WHEN sum(k_found) > 0 " +
          "THEN (1000000 * sum(n_same)) // sum(k_found) ELSE 0 END AS BIGINT) AS agree_e6 " +
          "FROM a GROUP BY label ORDER BY label"
      },
      "LABEL-NOISE audit via k-NN label agreement (Northcutt et al. 2021, confident " +
        "learning): every vector votes through its x07 LSH top-3 shortlist — the graph " +
        "retrieval actually uses, not the all-pairs one — and a strict neighbor-majority " +
        "disagreeing with the assigned label marks a mislabeling suspect. Per label: " +
        "vector count, isolated vectors (no LSH collision — reported, never dropped), " +
        "votes cast / same-label votes, suspect count, agree_e6 as exact integer " +
        "division. Low agreement on one label = noisy or entangled with a neighbor " +
        "class (cross-check x46 centroid confusability). Edge list is k·n; label " +
        "attachments are keyed joins; per-query vote count is map-side combinable; " +
        "final rollup is |labels| rows."
    ) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      knnLabelAgreement(knnLsh(emb, lit(true)), emb).orderBy("label")
    },

    // ----- x113: ANN recall@k audit (LSH graph vs brute ground truth) -----
    Q(
      "x113_ann_recall",
      Some {
        val bucketList = (0 until NL).map(bucketSqlT).mkString(", ")
        val tblList = (0 until NL).mkString(", ")
        s"WITH $normCtes, " +
          s"xb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          s"$cosSql AS cos FROM n q JOIN n c " +
          s"ON q.vec_id % $RecallMod = 0 AND c.vec_id <> q.vec_id), " +
          "rb AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM xb), " +
          s"bkt AS (SELECT vec_id, unnest([$bucketList]) AS bucket, " +
          s"unnest([$tblList]) AS tbl FROM n), " +
          "cand AS (SELECT DISTINCT b1.vec_id AS query_id, b2.vec_id AS neighbor_id " +
          "FROM bkt b1 JOIN bkt b2 ON b1.tbl = b2.tbl AND b1.bucket = b2.bucket " +
          s"AND b1.vec_id % $RecallMod = 0 AND b2.vec_id <> b1.vec_id), " +
          "sl AS (SELECT query_id, neighbor_id, " +
          s"$cosSql AS cos FROM cand " +
          "JOIN n q ON q.vec_id = query_id JOIN n c ON c.vec_id = neighbor_id), " +
          "rl AS (SELECT query_id, neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sl), " +
          "pq AS (SELECT rb.query_id, count(*) AS n_exact, " +
          "sum(CASE WHEN rl.neighbor_id IS NULL THEN 0 ELSE 1 END) AS n_hit " +
          "FROM rb LEFT JOIN (SELECT * FROM rl WHERE rank <= 3) rl " +
          "ON rl.query_id = rb.query_id AND rl.neighbor_id = rb.neighbor_id " +
          "WHERE rb.rank <= 3 GROUP BY 1), " +
          "lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings) " +
          "SELECT lab.label, CAST(count(*) AS BIGINT) AS n_queries, " +
          "CAST(sum(pq.n_exact) AS BIGINT) AS n_exact, " +
          "CAST(sum(pq.n_hit) AS BIGINT) AS n_hit, " +
          "CAST(sum(CASE WHEN pq.n_hit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_recall, " +
          "CAST((1000000 * sum(pq.n_hit)) // sum(pq.n_exact) AS BIGINT) AS recall_e6 " +
          "FROM pq JOIN lab ON lab.vec_id = pq.query_id " +
          "GROUP BY 1 ORDER BY 1"
      },
      "ANN RECALL@3 audit — the number that justifies every approximate index: per " +
        "label, |LSH top-3 ∩ exact top-3| / |exact top-3| over a deterministic ~5% " +
        s"query sample (vec_id % $RecallMod = 0; ANN-benchmark posture — ground truth " +
        "for a sample, never the corpus). Reported per label because recall loss " +
        "concentrates where classes entangle (cross-check x110 agreement, x46 " +
        "confusability), plus zero-hit queries — the retrieval dead zones a mean " +
        "recall hides. Ground truth is the one sample-bounded all-pairs leg " +
        "(broadcast query side, one corpus scan); the approx graph is the index " +
        "x07 already built; intersection is one keyed LEFT join; recall_e6 is exact " +
        "integer division. Re-run on every index rebuild — recall regressions ship " +
        "silently otherwise."
    ) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val qsel = col("vec_id") % RecallMod === 0
      annRecall(knnLsh(emb, qsel), knnBrute(emb, qsel), emb).orderBy("label")
    },

    // ----- x118: per-dimension embedding stats (anisotropy audit) -----
    Q(
      "x118_dim_stats",
      Some(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "x AS (SELECT CAST(i AS BIGINT) AS dim, " +
          "CAST(floor(v[i] * 1000000) AS BIGINT) AS x_e6 " +
          "FROM (SELECT v, unnest(generate_series(1, len(v))) AS i FROM e)) " +
          "SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs, " +
          "CAST(sum(CASE WHEN x_e6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero, " +
          "CAST(min(x_e6) AS BIGINT) AS min_e6, " +
          "CAST(max(x_e6) AS BIGINT) AS max_e6, " +
          "CAST(sum(x_e6) AS BIGINT) AS sum_e6, " +
          "CAST(sum(CAST(x_e6 AS HUGEINT) * x_e6) AS BIGINT) AS sumsq_e12, " +
          "CAST(CASE WHEN min(x_e6) = max(x_e6) THEN 1 ELSE 0 END AS BIGINT) AS is_dead " +
          "FROM x GROUP BY dim ORDER BY dim"),
      "per-DIMENSION embedding statistics — the anisotropy / dead-dimension audit " +
        "(Ethayarajh 2019; Timkey & van Schijndel 2021 rogue dimensions): per dim, " +
        "count, zero elements, min/max and the exact first+second moments in e6 " +
        "fixed point (per-element floor → order-independent integer aggregates; the " +
        "second moment accumulates in decimal(38,0) since Σx² overflows int64 at " +
        "corpus scale). A dead dim (min=max) is encoder collapse; a rogue dim whose " +
        "variance dwarfs the rest makes cosine effectively one-dimensional — the " +
        "classic cause of ANN recall cratering after an encoder swap (re-run with " +
        "x113 on every re-embed). One posexplode scan + keyed aggregate, map-side " +
        "combinable, |dims| rows out — no window, no join."
    ) { (s, dir) =>
      dimStats(table(s, dir, "embeddings")).orderBy("dim")
    },

    // ----- x124: embedding anisotropy (cone-collapse score) -----
    Q(
      "x124_anisotropy",
      Some(
        "WITH e AS (SELECT CAST(label AS BIGINT) AS label, " +
          "embedding::DOUBLE[] AS v FROM embeddings), " +
          "x AS (SELECT label, CAST(i AS BIGINT) AS dim, " +
          "CAST(floor(v[i] * 1000000) AS BIGINT) AS x_e6 " +
          "FROM (SELECT label, v, unnest(generate_series(1, len(v))) AS i FROM e)), " +
          "ld AS (SELECT label, dim, CAST(sum(x_e6) AS HUGEINT) AS s, " +
          "sum(CAST(x_e6 AS HUGEINT) * x_e6) AS t, CAST(count(*) AS BIGINT) AS n " +
          "FROM x GROUP BY 1, 2), " +
          "pl AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vecs, " +
          "sum(s * s) AS a, sum(t) AS b FROM ld GROUP BY 1), " +
          "od AS (SELECT dim, CAST(sum(s) AS HUGEINT) AS s, sum(t) AS t, " +
          "sum(n) AS n FROM ld GROUP BY 1), " +
          "ov AS (SELECT CAST(-1 AS BIGINT) AS label, CAST(max(n) AS BIGINT) AS n_vecs, " +
          "sum(s * s) AS a, sum(t) AS b FROM od), " +
          "u AS (SELECT * FROM pl UNION ALL SELECT * FROM ov) " +
          "SELECT label, n_vecs, " +
          "CAST(CASE WHEN b = 0 THEN 0 ELSE " +
          "(1000000 * a) // (CAST(n_vecs AS HUGEINT) * b) END AS BIGINT) AS anis_e6 " +
          "FROM u ORDER BY label"),
      "embedding ANISOTROPY audit (Ethayarajh 2019; Mu & Viswanath 2018): per label " +
        "and overall (-1), anis_e6 = (1e6·‖Σv‖²) div (n·Σ‖v‖²) — [0,1e6] by " +
        "Cauchy–Schwarz, ≈1e6/n for isotropic embeddings, →1e6 when vectors collapse " +
        "to a shared cone. Collapse destroys cosine contrast: ANN recall (x113) and " +
        "semantic dedup (x30) degrade BEFORE any index is built, and this one number, " +
        "re-run on every re-embed, catches it; x118 names the culprit dimensions, " +
        "this scores the geometry they induce. Exact integer arithmetic on " +
        "e6-quantized elements with decimal(38)/HUGEINT accumulators — no float " +
        "crosses the oracle. One posexplode scan into map-side-combinable " +
        "(label, dim) partial sums (|labels|·|dims| rows), two |labels|-sized " +
        "rollups; no window, no join — the partial sums are a mergeable sketch, so " +
        "at 100 TB shards aggregate hierarchically."
    ) { (s, dir) =>
      anisotropy(table(s, dir, "embeddings")).orderBy("label")
    },

    // ----- x135: label-separation audit (one-way ANOVA of the embedding space) -----
    Q(
      "x135_label_separation",
      Some(
        "WITH e AS (SELECT CAST(label AS BIGINT) AS label, " +
          "embedding::DOUBLE[] AS v FROM embeddings), " +
          "x AS (SELECT label, CAST(i AS BIGINT) AS dim, " +
          "CAST(floor(v[i] * 1000000) AS BIGINT) AS x_e6 " +
          "FROM (SELECT label, v, unnest(generate_series(1, len(v))) AS i FROM e)), " +
          "ld AS (SELECT label, dim, CAST(sum(x_e6) AS HUGEINT) AS s, " +
          "sum(CAST(x_e6 AS HUGEINT) * x_e6) AS t, CAST(count(*) AS BIGINT) AS n " +
          "FROM x GROUP BY 1, 2), " +
          "pl AS (SELECT label, CAST(max(n) AS BIGINT) AS nl, " +
          "sum(s * s) AS ssq, sum(t) AS tl FROM ld GROUP BY 1), " +
          "pl2 AS (SELECT label, nl, CAST(ssq // nl AS BIGINT) AS term, tl FROM pl), " +
          "lab AS (SELECT CAST(count(*) AS BIGINT) AS n_labels, " +
          "CAST(sum(nl) AS BIGINT) AS n_vecs, " +
          "sum(CAST(term AS HUGEINT)) AS sum_term, sum(tl) AS t_all FROM pl2), " +
          "g AS (SELECT sum(s2 * s2) AS gsq FROM " +
          "(SELECT dim, CAST(sum(s) AS HUGEINT) AS s2 FROM ld GROUP BY 1)), " +
          "f AS (SELECT n_vecs, n_labels, " +
          "greatest(sum_term - (gsq // n_vecs), 0) AS b, " +
          "t_all - sum_term AS w FROM lab CROSS JOIN g) " +
          "SELECT n_vecs, n_labels, " +
          "CAST(CASE WHEN b + w = 0 THEN 0 ELSE (1000000 * b) // (b + w) END AS BIGINT) " +
          "AS eta2_e6, " +
          "CAST(CASE WHEN w = 0 THEN 0 ELSE (1000000 * b) // w END AS BIGINT) AS fisher_e6 " +
          "FROM f"),
      "LABEL-SEPARATION audit — one-way ANOVA of the embedding space via exact " +
        "sufficient statistics: total centered scatter decomposed into " +
        "between-label and within-label parts (B = Σ‖S_l‖²/n_l − ‖S‖²/n, " +
        "W = T − Σ‖S_l‖²/n_l on e6-quantized ints), reported as the correlation " +
        "ratio η² (share of embedding variance the labels explain) and the Fisher " +
        "ratio B/W. η² → 0 means labels are unlearnable from this space — x85's " +
        "retrieval eval and x76's centroid classifier will both fail, and this one " +
        "row says so before either runs; an η² shift after an encoder swap is the " +
        "class-structure regression x113's recall can't attribute. Per-label terms " +
        "floor identically in both engines; B clamps at 0 before any divide. Same " +
        "shape as x124: one posexplode scan into mergeable (label, dim) partial " +
        "sums (checkpoint-pinned), two |labels|-sized rollups, no window, no join."
    ) { (s, dir) =>
      labelSeparation(table(s, dir, "embeddings"))
    },

    // ----- x136: LSH bucket-health audit (the ANN hash calibrated) -----
    Q(
      "x136_lsh_buckets",
      Some {
        val tableCtes = (0 until NL).map(t =>
          s"SELECT CAST($t AS BIGINT) AS tbl, ${bucketSqlT(t)} AS bkt FROM n")
          .mkString(" UNION ALL ")
        s"WITH $normCtes, " +
          s"b AS ($tableCtes), " +
          "o AS (SELECT tbl, bkt, CAST(count(*) AS BIGINT) AS occ FROM b GROUP BY 1, 2), " +
          "g AS (SELECT tbl, CAST(sum(occ) AS BIGINT) AS n_vecs, " +
          "CAST(count(*) AS BIGINT) AS n_buckets, " +
          "CAST(max(occ) AS BIGINT) AS max_occ, " +
          "CAST(sum((CAST(occ AS HUGEINT) * (occ - 1)) // 2) AS BIGINT) AS sum_pairs " +
          "FROM o GROUP BY 1) " +
          "SELECT tbl, n_vecs, n_buckets, max_occ, " +
          "CAST((1000000 * max_occ) // n_vecs AS BIGINT) AS max_share_e6, " +
          "CAST((1000000 * CAST(n_vecs AS HUGEINT)) // n_buckets AS BIGINT) AS mean_occ_e6, " +
          "sum_pairs FROM g ORDER BY tbl"
      },
      "LSH BUCKET-HEALTH audit — per hyperplane table: occupied buckets, hottest " +
        "bucket occupancy/share, mean occupancy, and the within-bucket pair mass " +
        "Σ occ·(occ−1)/2, which IS the distance-computation cost a probe of that " +
        "table pays. Anisotropic embeddings (x124's cone) land on the same side of " +
        "most planes and pile into hot buckets — probe cost degenerates toward " +
        "brute force while recall (x113) stays deceptively fine; this is the " +
        "per-table evidence for re-drawing planes or re-centering after an encoder " +
        "swap. x28 calibrates the MinHash sketch, this calibrates the ANN hash. " +
        "Bucket ids are the index's own per-row expressions; the audit is one " +
        "count to ≤ NL·2^NP rows — no window, no join, the pair mass is arithmetic " +
        "on occupancies, never a materialized join."
    ) { (s, dir) =>
      lshBucketHealth(table(s, dir, "embeddings")).orderBy("tbl")
    },

    // ----- x137: centered-LSH bucket health (x136's remediation, measured) -----
    Q(
      "x137_lsh_centered",
      Some {
        def planeInt(t: Int, j: Int) = s"([${tablePlanes(t)(j).mkString(", ")}]::BIGINT[])"
        def dqExpr(t: Int, j: Int) =
          "list_aggregate(list_transform(generate_series(1, len(q)), " +
            s"i -> q[i] * ${planeInt(t, j)}[i]), 'sum')"
        val dqCols = (for (t <- 0 until NL; j <- 0 until NP)
          yield s"${dqExpr(t, j)} AS dq_${t}_$j").mkString(", ")
        val sCols = (for (t <- 0 until NL; j <- 0 until NP)
          yield s"sum(CAST(dq_${t}_$j AS HUGEINT)) AS s_${t}_$j").mkString(", ")
        val tableCtes = (0 until NL).map { t =>
          val bits = (0 until NP).map(j =>
            s"(CASE WHEN tot.n * dq_${t}_$j > tot.s_${t}_$j THEN ${1L << j} ELSE 0 END)")
            .mkString(" + ")
          s"SELECT CAST($t AS BIGINT) AS tbl, $bits AS bkt FROM dq, tot"
        }.mkString(" UNION ALL ")
        "WITH qe AS (SELECT vec_id, list_transform(embedding::DOUBLE[], " +
          "x -> CAST(floor(x * 1000000) AS BIGINT)) AS q FROM embeddings), " +
          s"dq AS (SELECT vec_id, $dqCols FROM qe), " +
          s"tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, $sCols FROM dq), " +
          s"b AS ($tableCtes), " +
          "o AS (SELECT tbl, bkt, CAST(count(*) AS BIGINT) AS occ FROM b GROUP BY 1, 2), " +
          "g AS (SELECT tbl, CAST(sum(occ) AS BIGINT) AS n_vecs, " +
          "CAST(count(*) AS BIGINT) AS n_buckets, " +
          "CAST(max(occ) AS BIGINT) AS max_occ, " +
          "CAST(sum((CAST(occ AS HUGEINT) * (occ - 1)) // 2) AS BIGINT) AS sum_pairs " +
          "FROM o GROUP BY 1) " +
          "SELECT tbl, n_vecs, n_buckets, max_occ, " +
          "CAST((1000000 * max_occ) // n_vecs AS BIGINT) AS max_share_e6, " +
          "CAST((1000000 * CAST(n_vecs AS HUGEINT)) // n_buckets AS BIGINT) AS mean_occ_e6, " +
          "sum_pairs FROM g ORDER BY tbl"
      },
      "CENTERED-LSH bucket health — x136's own remediation, measured: re-bucket " +
        "with every hyperplane test centered on the corpus mean (Mu & Viswanath " +
        "2018 'all-but-the-top', step 1) and report the identical per-table " +
        "occupancy geometry, so x136 vs x137 is a direct before/after. Anisotropic " +
        "embeddings sit in one halfspace of most planes — the MEAN offset decides " +
        "the bit, not relative geometry — and pile into hot buckets; subtracting " +
        "the mean restores the ±balance each plane assumes while pairwise angles " +
        "(what the cosine rerank scores) are untouched. Exact integers end-to-end: " +
        "e6-quantized elements, centered sign test n·⟨q,p⟩ > Σ⟨q,p⟩ on " +
        "decimal(38)/HUGEINT — the centering state is NL·NP+1 scalars (the " +
        "quantizer-state pattern), bucketing is per-row arithmetic, the rollup is " +
        "≤ NL·2^NP rows. knnLshCentered is the production index this calibrates; " +
        "adopt when max_share/sum_pairs beat x136 with x113 recall held " +
        "(spec-pinned on the anisotropic fixture)."
    ) { (s, dir) =>
      lshBucketHealthCentered(table(s, dir, "embeddings")).orderBy("tbl")
    },

    // ----- x138: IMI product-cell quantizer (the flat-assignment remediation) -----
    Q(
      "x138_imi_cells",
      Some {
        s"WITH $normCtes, " +
          s"vi0 AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * $VSCALE) AS BIGINT)) " +
          "AS vfull FROM n), " +
          s"${pqKmeansSql(0, NC, 32)}, ${pqKmeansSql(1, NC, 32)}, " +
          "a0 AS (SELECT vec_id, cid FROM r0_m0 WHERE rn = 1), " +
          "a1 AS (SELECT vec_id, cid FROM r0_m1 WHERE rn = 1), " +
          s"cells AS (SELECT a0.vec_id, a0.cid * $NC + a1.cid AS cell " +
          "FROM a0 JOIN a1 USING (vec_id)), " +
          "o AS (SELECT cell, CAST(count(*) AS BIGINT) AS occ FROM cells GROUP BY 1) " +
          "SELECT CAST(sum(occ) AS BIGINT) AS n_vecs, " +
          "CAST(count(*) AS BIGINT) AS n_cells, " +
          "CAST(max(occ) AS BIGINT) AS max_occ, " +
          "CAST((1000000 * max(occ)) // sum(occ) AS BIGINT) AS max_share_e6, " +
          "CAST(sum((CAST(occ AS HUGEINT) * (occ - 1)) // 2) AS BIGINT) AS sum_pairs, " +
          s"CAST(sum(occ) * ${NC.toLong * NC} AS BIGINT) AS flat_evals, " +
          s"CAST(sum(occ) * ${2L * NC} AS BIGINT) AS imi_evals " +
          "FROM o"
      },
      "IMI product-cell coarse quantization (Babenko & Lempitsky 2012, the inverted " +
        "multi-index): two INDEPENDENT fixed-point k-means codebooks on the vector " +
        "halves; a cell is the (cid0, cid1) pair — nc² cells at 2·nc assignment " +
        "evals per vector. This is the REMEDIATION for the flat coarse quantizer's " +
        "O(n·nc) assignment: with corpus-proportional cells (the auto-nc rule) flat " +
        "assignment is O(n²/64) — the named cap on x50's 100x posture — while IMI " +
        "reaches the same cell count at O(n·√cells). Output is the cell-health " +
        "audit in x136's currency (occupied cells, hottest cell, within-cell pair " +
        "mass) plus the flat_evals/imi_evals arithmetic the op exists to prove; " +
        "n_cells/max_share also expose IMI's known product-grid trade (correlated " +
        "halves leave cells empty and skew occupancy — read before switching). " +
        "Training is 2 sampled half-space chains (driver-resident codebooks), " +
        "assignment is two broadcast argmins inside the scan, the audit is one " +
        "count to ≤ nc² rows."
    ) { (s, dir) =>
      imiCells(table(s, dir, "embeddings"))
    }
  )
}
