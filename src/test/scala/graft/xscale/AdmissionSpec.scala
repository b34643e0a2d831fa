package graft.xscale

import graft.SparkSpec

/** Admission-state guards: a bootstrap that cannot seed its quantizer
  * must fail by name instead of writing an empty emb state that every
  * later batch passes unflagged.
  */
class AdmissionSpec extends SparkSpec {
  import spark.implicits._

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
}
