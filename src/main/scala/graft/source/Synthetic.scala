package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic transaction generator (S6, reference synthetic/data.go:40-63):
  * N rows with Details="SALE", today's date, "Synthetic transaction {i}"
  * descriptions, random amount ∈ [0,1000), balance ∈ [0,10000), 4-digit
  * account id, Type="DEBIT", Category/DataSource="synthetic".
  *
  * `spark.range(n)` is an embarrassingly parallel source — no shuffle, scales
  * linearly with executors; the reference builds the rows one-by-one on a
  * single thread (data.go:40-63).
  */
object Synthetic {

  /** Faithful variant: non-deterministic `rand(seed)` like the reference's
    * rand.Float64 (data.go:44-48), and TODAY's date on every row exactly
    * like `time.Now().Format("01/02/2006")` (data.go:51).
    */
  def transactions(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame =
    decorate(
      spark.range(n),
      amount = rand(seed) * 1000.0,
      balance = rand(seed + 1) * 10000.0,
      acct = (rand(seed + 2) * 10000.0).cast("int"),
      postingDate = date_format(current_date(), "MM/dd/yyyy"))

  /** Deterministic variant (oracle-checkable): the random draws are replaced
    * by fixed multiplicative-congruential arithmetic on the row id, so DuckDB
    * can reproduce the exact rows in SQL. Same value ranges as the reference
    * (amount [0,1000), balance [0,10000), account [0000,9999],
    * synthetic/data.go:16-23).
    */
  def transactionsDeterministic(spark: SparkSession, n: Long): DataFrame =
    decorate(
      spark.range(n),
      amount = (col("id") * 9973 % 100000).cast("double") / 100.0,
      balance = (col("id") * 6151 % 1000000).cast("double") / 100.0,
      acct = (col("id") * 7919 % 10000).cast("int"))

  private def decorate(
      ids: org.apache.spark.sql.Dataset[java.lang.Long],
      amount: org.apache.spark.sql.Column,
      balance: org.apache.spark.sql.Column,
      acct: org.apache.spark.sql.Column,
      // deterministic variant spreads dates over a fixed year so the oracle
      // can reproduce them; the faithful variant passes today's date
      postingDate: org.apache.spark.sql.Column = date_format(
        date_add(to_date(lit("2024-01-01")), (col("id") % 365).cast("int")),
        "MM/dd/yyyy")): DataFrame =
    ids.select(
      lit("SALE").as("details"), // data.go:17 detailsValue
      postingDate.as("posting_date"),
      concat(lit("Synthetic transaction "), col("id")).as("description"),
      amount.as("amount"),
      balance.as("balance"),
      lit("synthetic").as("category"), // data.go:20
      lit("DEBIT").as("txn_type"), // data.go:21
      lit("").as("check_or_slip_num"),
      lit("synthetic").as("data_source"),
      lpad(acct.cast("string"), 4, "0").as("account_id")) // %04d, data.go:48

  /** Zipfian synthetic TEXT corpus — the fixture the df-dependent text
    * operators (x88 BM25, x77 heavy hitters, x119 burstiness) need: the
    * driver fixture's 31-word flat vocabulary makes every document-
    * frequency distinction degenerate (every useful df-cap keeps ~76%-df
    * postings), where real corpora are Zipfian — a tiny head carrying
    * most token MASS and a long informative tail. Deterministic and
    * shuffle-free: doc `i`'s token `t` is word
    * `floor((V+1)^u)` with `u = (h60("z:i:t") mod 1e6) / 1e6` — the
    * closed-form inverse CDF of P(word = k) ∝ ln(1 + 1/k) ≈ 1/k, i.e.
    * Zipf s = 1, no rejection loop, no driver RNG state, identical
    * corpus on every engine/run. Doc length 30..229 tokens hash-varied;
    * 4 sources. Columns (doc_id, source, text).
    *
    * Scale posture: `spark.range` is an embarrassingly parallel source;
    * every column is per-row expression work inside codegen — generating
    * an N-doc corpus is one scan-shaped pass, no shuffle, no collect.
    */
  def zipfDocs(spark: SparkSession, n: Long, vocab: Int = 10000): DataFrame = {
    val h = graft.xscale.XHash.h60(_: org.apache.spark.sql.Column)
    val len = (h(concat(lit("zlen:"), col("id"))) % 200 + 30).cast("int")
    val word = (t: org.apache.spark.sql.Column) => {
      val u = (h(concat(lit("z:"), col("id"), lit(":"), t)) % 1000000L)
        .cast("double") / 1000000.0
      concat(lit("w"), floor(pow(lit((vocab + 1).toDouble), u)).cast("long").cast("string"))
    }
    spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("zipf_"), (col("id") % 4).cast("string")).as("source"),
      concat_ws(" ", transform(sequence(lit(1), len), word)).as("text"))
  }

  /** Share of docs that are duplicate-cluster members in
    * [[powerlawDocs]]: 1% (10000 ppm) — the realistic corpus shape, vs
    * the all-clique worst case the id-shifted scale fixture builds.
    */
  val PowerlawDupPpm = 10000L

  /** Duplicate-cluster id for row `id` of an n-row power-law corpus, or
    * the row's own id when unique. The dup mass ([[PowerlawDupPpm]] of
    * docs) splits into 10 equal size-classes; class k targets clusters
    * of ~2^k members (n/(1000·2^k) clusters of n/1000 class docs), so
    * cluster sizes are power-law-ish — exponentially many small
    * clusters, a few big ones — and SCALE-INVARIANT once n is large
    * enough for a class to hold >1 cluster (below that the whole class
    * is one cluster, so the biggest cluster grows with n until the
    * target size is reached, then holds). Everything is closed-form
    * per-row hash arithmetic: no shuffle, no RNG state, identical corpus
    * every run. Cluster membership is INDEPENDENT of doc_id mod m (the
    * draw hashes the id), so a mod-m doc sample thins every cluster ~m×
    * — the property x121's sampled truth leg needs to shrink ~mod².
    * Returns (canon, near): canon < 0 for dup-cluster members (a
    * class/cluster-keyed negative id space), canon = id for uniques;
    * `near` marks clusters whose members are NEAR-dups (one
    * member-specific token appended) rather than byte-identical — half
    * of clusters each, by cluster hash, so exact-first cascades have
    * real exact mass AND real near mass to find.
    */
  private def powerlawCanon(n: Long): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val h = graft.xscale.XHash.h60(_: org.apache.spark.sql.Column)
    val draw = h(concat(lit("pl:"), col("id"))) % 1000000L
    val isDup = draw < PowerlawDupPpm
    val k = (draw / lit(PowerlawDupPpm / 10L)).cast("int") + 1 // 1..10 on dup rows
    val clustersK = element_at(
      array((1 to 10).map(c => lit(math.max(1L, n / (1000L * (1L << c))))): _*), k)
    val clusterIdx = h(concat(lit("plc:"), col("id"))) % clustersK
    val canon = when(isDup, -(k.cast("long") * 100000000L + clusterIdx + 1L))
      .otherwise(col("id"))
    val near = isDup && h(concat(lit("pln:"), canon)) % 2 === 0
    (canon, near)
  }

  /** Power-law-duplicate synthetic TEXT corpus — the realistic dedup
    * fixture: ~99% unique docs, ~1% duplicate mass in clusters with
    * power-law sizes (see [[powerlawCanon]]). Cluster members share the
    * canonical text (UNIFORM-draw words seeded by the cluster id — NOT
    * Zipf: a shared Zipfian head correlates every doc's simhash bits and
    * minhash sketch, so unrelated docs flood the pigeonhole/band buckets
    * and pair generation goes quadratic for reasons that are fixture
    * artifacts, not dedup cost; [[zipfDocs]] remains the separate fixture
    * for df-dependent ops); NEAR clusters append one member-specific
    * token (3-shingle Jaccard ≈ (L−3)/(L+3) ≈ 0.95 — above every detector
    * threshold here), EXACT clusters are byte-identical. Same schema as
    * the driver documents table (doc_id, text, lang, source, n_chars);
    * lang/source are cluster-coherent so survivor accounting is
    * deterministic. One scan-shaped pass, no shuffle, no collect.
    */
  def powerlawDocs(spark: SparkSession, n: Long, vocab: Int = 10000): DataFrame = {
    val h = graft.xscale.XHash.h60(_: org.apache.spark.sql.Column)
    val (canon, near) = powerlawCanon(n)
    spark.range(n)
      .select(col("id"), canon.as("canon"), near.as("near"))
      .select(
        col("id").as("doc_id"),
        {
          val len = (h(concat(lit("pllen:"), col("canon"))) % 200 + 30).cast("int")
          val word = (t: org.apache.spark.sql.Column) =>
            concat(lit("w"),
              (h(concat(lit("plw:"), col("canon"), lit(":"), t)) % vocab).cast("string"))
          val base = concat_ws(" ", transform(sequence(lit(1), len), word))
          when(col("near"),
            concat(base, lit(" v"), (h(concat(lit("plm:"), col("id"))) % 100000L).cast("string")))
            .otherwise(base)
        }.as("text"),
        element_at(array(lit("en"), lit("es"), lit("zh"), lit("de")),
          (h(concat(lit("pllang:"), col("canon"))) % 4).cast("int") + 1).as("lang"),
        concat(lit("pl_"), (h(concat(lit("plsrc:"), col("canon"))) % 4).cast("string"))
          .as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** The embedding side of the power-law fixture: vec_id = doc_id over
    * the first `n` ids, SAME cluster function as [[powerlawDocs]] — so a
    * text-dup cluster is also an embedding-dup cluster, the joint-dedup
    * (x50) scenario. Members of an EXACT cluster share the canonical
    * vector bit-for-bit; NEAR members add ±0.002 per-dim hash noise
    * (cosine ≈ 0.9999 — inside every semantic-dup threshold). Labels are
    * cluster-coherent. Schema matches the driver embeddings table
    * (vec_id, embedding float[64], label int).
    */
  def powerlawEmbeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame = {
    val h = graft.xscale.XHash.h60(_: org.apache.spark.sql.Column)
    val (canon, near) = powerlawCanon(n)
    spark.range(n)
      .select(col("id"), canon.as("canon"), near.as("near"))
      .select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), d => {
          val base = (h(concat(lit("ple:"), col("canon"), lit(":"), d)) % 400001L)
            .cast("double") / 1e6 - 0.2
          val noise = when(col("near"),
            (h(concat(lit("plme:"), col("id"), lit(":"), d)) % 4001L).cast("double") / 1e6
              - 0.002).otherwise(lit(0.0))
          (base + noise).cast("float")
        }).as("embedding"),
        (h(concat(lit("pll:"), col("canon"))) % 10L).cast("int").as("label"))
  }

  /** CSV sink with the reference's header + %.2f money formatting
    * (K4, synthetic/data.go:108-160).
    */
  def writeCsv(df: DataFrame, dir: String): Unit =
    df.select(
        col("details").as("Details"),
        col("posting_date").as("Posting Date"),
        col("description").as("Description"),
        col("category").as("Category"),
        format_string("%.2f", col("amount")).as("Amount"),
        col("txn_type").as("Type"),
        format_string("%.2f", col("balance")).as("Balance"),
        col("check_or_slip_num").as("Check or Slip #"))
      .write
      .option("header", "true")
      .mode("overwrite")
      .csv(dir)

  /** Direct-to-lake persistence (K5, reference
    * GenerateAndPersistSyntheticData → InsertMany, synthetic/data.go:66-105):
    * a plain partitioned APPEND — the reference's InsertMany does not upsert,
    * so neither does this; use [[graft.lake.Lake.upsertIntoLake]] when merge
    * semantics are wanted. It appends in place, outside the lake's
    * stage-and-swap commit (`Lake.replace`), which every rewrite of the
    * lake goes through. Like the upsert path, the lake's ON-DISK layout
    * wins (one rule, `Lake.layout`'s directory probe): appending into
    * a month-partitioned lake adds `posting_month`, so leaf files never land
    * at mixed directory depths (which would break every later read of the
    * lake with conflicting-directory-structures).
    */
  def persistToLake(df: DataFrame, lakePath: String): Unit = {
    val layout = graft.lake.Lake.layout(df.sparkSession, lakePath)
    layout.derive(df).write
      .mode("append")
      .partitionBy(layout.partCols: _*)
      .parquet(lakePath)
  }
}
