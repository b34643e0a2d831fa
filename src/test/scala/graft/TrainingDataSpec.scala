package graft

import org.apache.spark.sql.functions._

import graft.xscale.{DataPrep, Dedup, DedupClusters, Similarity, TextAnalysis}

/** The xscale operators driven the way a library user would: compose a
  * corpus-prep pipeline from the public operator objects (`TextAnalysis`,
  * `Dedup`, `DedupClusters`, `DataPrep`, `Similarity`) and check the
  * invariants, with no registered query or fixture in between. The class
  * keeps the name it had when these operators sat behind a
  * `graft.TrainingData` facade, so the test ids stay stable.
  */
class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("compose: quality filter -> exact dedup -> split -> pack, all lazy") {
    val prepped = DataPrep.packAssignments(
      DataPrep.splitAssign(
        Dedup.dedupExact(TextAnalysis.qualityFilter(docs))))
    // one composed plan, no intermediate actions
    val n = prepped.count()
    assert(n > 0 && n <= docs.count())
    val perPack = prepped.groupBy("shard", "pack")
      .agg(sum("n_tok").as("toks")).agg(max("toks")).as[Long].head()
    assert(perPack > 0)
  }

  test("near-dup pipeline: pairs -> clusters -> survivors, both CC variants agree") {
    val pairs = Dedup.simhashPairs(docs)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
    val viaProp = DedupClusters.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val viaStar = DedupClusters.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    assert(viaProp === viaStar)
    val survivors = DedupClusters.dedupByPairs(docs, pairs).count()
    assert(survivors < docs.count())
  }

  test("knn: lsh results are a subset-ranked view of brute force's candidates") {
    val isQ = col("vec_id") < 5
    val brute = Similarity.knnBrute(emb, isQ, k = 10)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    val lsh = Similarity.knnLsh(emb, isQ, k = 3).as[(Long, Long, Long)].collect()
    assert(lsh.nonEmpty)
    // every lsh query id is a real query; ranks start at 1
    lsh.groupBy(_._1).foreach { case (q, rows) =>
      assert(brute.contains(q))
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length))
    }
  }

  test("stratified sample + quantize run off the facade with user quotas") {
    val sampled = DataPrep.stratifiedSample(docs, "lang", lit(5))
    val counts = sampled.groupBy("lang").count().as[(String, Long)].collect()
    assert(counts.nonEmpty && counts.forall(_._2 <= 5))
    val q = DataPrep.quantizeInt8(emb)
    val bad = q.select(explode(col("qv")).as("x")).filter(abs(col("x")) > 127).count()
    assert(bad === 0)
  }
}
