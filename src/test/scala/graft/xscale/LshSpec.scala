package graft.xscale

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The banded-LSH core against brute force on small seeded frames: the
  * self and cross band joins return exactly the pairs that share a band
  * row, each once, and the shared verify pieces equal their definitions.
  */
class LshSpec extends SparkSpec {
  import spark.implicits._

  /** `n` items with ids `id0..`, each holding `bands` keys drawn from a
    * small range so that collisions are common.
    */
  private def items(seed: Long, n: Int, bands: Int, id0: Long): Seq[(Long, String, Seq[Long])] = {
    val r = new Random(seed)
    (0 until n).map(i => (id0 + i, if (r.nextBoolean()) "img" else "aud", Seq.fill(bands)(r.nextInt(6).toLong)))
  }

  private def share(x: Seq[Long], y: Seq[Long]): Boolean = x.zip(y).exists { case (a, b) => a == b }

  test("self form: exactly the pairs sharing a (band, key), each once, a < b") {
    for (seed <- 1L to 3L) {
      val it = items(seed, 30, 4, 0L)
      // a repeated item row must not repeat its pairs
      val df = (it ++ it.take(3)).toDF("doc_id", "mod", "bands")
      val (a, b) = Lsh.sides(Lsh.bandRows(df, col("bands"), col("doc_id")), "doc_id")
      val got = Lsh.selfPairs(a, b, col("a"), col("b")).as[(Long, Long)].collect()
      val want = for { (x, _, bx) <- it; (y, _, by) <- it if x < y && share(bx, by) } yield (x, y)
      assert(got.length === got.distinct.length, s"seed $seed: a pair repeats")
      assert(got.toSet === want.toSet, s"seed $seed")
      assert(want.nonEmpty)
    }
  }

  test("self form with a space tag: pairs must share the tag too") {
    val it = items(7L, 40, 4, 0L)
    val df = it.toDF("doc_id", "mod", "bands")
    val (a, b) = Lsh.sides(Lsh.bandRows(df, col("bands"), col("doc_id"), col("mod")), "doc_id")
    val got = Lsh.selfPairs(a, b, col("a"), col("b")).as[(Long, Long)].collect().toSet
    val want = for {
      (x, mx, bx) <- it; (y, my, by) <- it if x < y && mx == my && share(bx, by)
    } yield (x, y)
    assert(got === want.toSet)
  }

  test("self form carries payload columns per side") {
    val df = Seq((1L, Seq(5L, 1L), 10), (2L, Seq(5L, 2L), 20), (3L, Seq(6L, 2L), 30))
      .toDF("doc_id", "bands", "w")
    val (a, b) = Lsh.sides(Lsh.bandRows(df, col("bands"), col("doc_id"), col("w")), "doc_id", "w")
    val got = Lsh.selfPairs(a, b, col("a"), col("b"), (col("w_a") + col("w_b")).as("s"))
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 30), (2L, 3L, 50)))
  }

  test("cross form: exactly the left x right pairs sharing a (band, key), each once") {
    for (seed <- 1L to 3L) {
      val l = items(seed, 20, 4, 0L)
      val r = items(seed + 100, 25, 4, 0L)
      val left = Lsh.bandRows(l.toDF("doc_id", "mod", "bands"), col("bands"), col("doc_id"))
      val right = Lsh.bandRows(r.toDF("cv_id", "mod", "bands"), col("bands"), col("cv_id"))
      val got = Lsh.crossPairs(left, right, Seq(col("doc_id"), col("cv_id"))).as[(Long, Long)].collect()
      val want = for { (x, _, bx) <- l; (y, _, by) <- r if share(bx, by) } yield (x, y)
      assert(got.length === got.distinct.length, s"seed $seed: a pair repeats")
      assert(got.toSet === want.toSet, s"seed $seed")
      assert(want.exists { case (x, y) => x == y }, "the seeded ids overlap")
      // the admitMediaCompare / resized-crop form: same-id pairs drop
      val differ = Lsh.crossPairs(left, right, Seq(col("doc_id"), col("cv_id")),
        differ = Some("doc_id" -> "cv_id")).as[(Long, Long)].collect().toSet
      assert(differ === want.filter { case (x, y) => x != y }.toSet, s"seed $seed")
    }
  }

  test("cross form with a space tag and a multi-column right id") {
    val l = items(11L, 20, 4, 0L)
    val r = items(12L, 20, 4, 100L)
    val left = Lsh.bandRows(l.toDF("doc_id", "mod", "bands"), col("bands"), col("doc_id"), col("mod"))
    val right = Lsh.bandRows(
      r.toDF("vid_id", "mod", "bands").withColumn("frame_idx", col("vid_id") % 3),
      col("bands"), col("vid_id"), col("frame_idx"), col("mod"))
    val got = Lsh.crossPairs(left, right, Seq(col("doc_id"), col("vid_id"), col("frame_idx")))
      .as[(Long, Long, Long)].collect().toSet
    val want = for {
      (x, mx, bx) <- l; (y, my, by) <- r if mx == my && share(bx, by)
    } yield (x, y, y % 3)
    assert(got === want.toSet)
  }

  test("a band join without (band, key) on both sides is refused") {
    val df = Seq((1L, Seq(1L))).toDF("doc_id", "bands")
    intercept[IllegalArgumentException](
      Lsh.crossPairs(df, df.withColumnRenamed("doc_id", "cv_id"), Seq(col("doc_id"))))
  }

  test("MinHash band keys from a sig array equal those from sig0..sig15 columns") {
    val rnd = new Random(5L)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docs = (0 until 60).map(i => (i.toLong, Seq.fill(4 + rnd.nextInt(12))(words(rnd.nextInt(8))).mkString(" ")))
      .toDF("doc_id", "text")
    val fromCols = Dedup.withSignature(docs).select(col("doc_id"),
      array((0 until Dedup.B).map(b => md5(concat_ws(",",
        (0 until Dedup.R).map(r => col(s"sig${b * Dedup.R + r}")): _*))): _*).as("k"))
    val fromArray = Dedup.dedupSignatures(docs)
      .select(col("doc_id"), Lsh.minhashBandKeys(col("sig")).as("k"))
    val a = fromCols.as[(Long, Seq[String])].collect().toMap
    val b = fromArray.as[(Long, Seq[String])].collect().toMap
    assert(a.size === 60 && a === b)
    assert(a.values.forall(_.size == Dedup.B))
  }

  test("nMatch counts agreeing minhashes; hamming sums band bit distances") {
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 0L, 3L, 0L))).toDF("x", "y")
    val Array((nm, hd)) = df.select(Lsh.nMatch(col("x"), col("y")), Lsh.hamming(col("x"), col("y")))
      .as[(Long, Int)].collect()
    assert(nm === 2L)
    assert(hd === java.lang.Long.bitCount(2L) + java.lang.Long.bitCount(4L))
  }
}
