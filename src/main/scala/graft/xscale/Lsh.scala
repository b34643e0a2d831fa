package graft.xscale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Dedup.{B, K, R}

/** Banded-LSH candidate generation, the one recipe behind the text
  * MinHash, shingle-containment and media dHash pair paths (Broder 1997):
  * turn each item into an array of band keys, explode it into one
  * `(band, key)` row per band, equi-join the band rows, keep each
  * candidate pair once, then verify the candidates exactly. A site keeps
  * only its signature (which band-key array) and its verify (which exact
  * rule); this object owns the rest, and the DuckDB twin of each piece.
  *
  * The two joins take their sides as given: a caller that re-keys its
  * probe side (a repartition, a broadcast) does so before the call, and
  * that exchange stays the caller's.
  */
object Lsh {

  /** One row per (item, band): the `keep` columns, then `band` (the
    * 0-based position in `keys`) and `key` (the band key).
    */
  def bandRows(df: DataFrame, keys: Column, keep: Column*): DataFrame =
    df.select(keep :+ posexplode(keys).as(Seq("band", "key")): _*)

  /** The two sides of the self form over [[bandRows]] output: `id`
    * becomes `a` / `b`, each `payload` column `c` becomes `c_a` / `c_b`,
    * and every other column (`band`, `key`, and a space tag such as
    * `mod`) stays a join key.
    */
  def sides(bands: DataFrame, id: String, payload: String*): (DataFrame, DataFrame) = {
    def side(s: String) = bands.select(bands.columns.toSeq.map {
      case `id` => col(id).as(s)
      case c if payload.contains(c) => col(c).as(s"${c}_$s")
      case c => col(c)
    }: _*)
    (side("a"), side("b"))
  }

  /** The self form: every pair of [[sides]] rows sharing a band row, as
    * `a < b`, projected to `out` (columns of the joined row) and kept once.
    */
  def selfPairs(a: DataFrame, b: DataFrame, out: Column*): DataFrame =
    bandJoin(a, b).filter(col("a") < col("b")).select(out: _*).distinct()

  /** The cross form: every (left row, right row) pair sharing a band row,
    * projected to `out` and kept once. `differ` names a left and a right
    * id column whose equal values drop the pair (an item never pairs with
    * its own row on the other side).
    */
  def crossPairs(
      left: DataFrame,
      right: DataFrame,
      out: Seq[Column],
      differ: Option[(String, String)] = None): DataFrame = {
    val joined = bandJoin(left, right)
    differ.fold(joined) { case (l, r) => joined.filter(col(l) =!= col(r)) }
      .select(out: _*).distinct()
  }

  /** The band equi-join: on every column the two sides share — `band`,
    * `key`, and any space tag both sides carry.
    */
  private def bandJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val on = left.columns.toSeq.filter(right.columns.contains)
    require(on.contains("band") && on.contains("key"), s"band join on $on lacks (band, key)")
    left.join(right, on)
  }

  // ---------------------------------------------------------------------
  // text MinHash: Dedup.K minhashes in Dedup.B bands of Dedup.R rows
  // ---------------------------------------------------------------------

  /** The MinHash band keys of a K-long `sig` array: band b is the md5 of
    * its R minhashes joined by commas.
    */
  def minhashBandKeys(sig: Column): Column =
    array((0 until B).map(b =>
      md5(concat_ws(",", (0 until R).map(r => element_at(sig, b * R + r + 1)): _*))): _*)

  /** How many of two signatures' K minhashes agree. */
  def nMatch(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L),
      (acc, x) => acc + x)

  /** DuckDB twin of [[bandRows]] over [[minhashBandKeys]]: the CTE `name`
    * of (doc_id, sig, band, `key`) rows of the `src` relation's
    * (doc_id, sig) rows.
    */
  def minhashBandsSql(name: String, src: String, key: String = "key"): String = {
    val bandKey = (1 to R).map(r => s"sig[band * $R + $r]").mkString(", ")
    s"$name AS (SELECT doc_id, sig, band, md5(concat_ws(',', $bandKey)) AS $key " +
      s"FROM (SELECT doc_id, sig, unnest(generate_series(0, ${B - 1})) AS band FROM $src))"
  }

  /** DuckDB twin of [[nMatch]] over the `sig` columns of aliases `a`, `b`. */
  def nMatchSql(a: String, b: String): String =
    s"len(list_filter(generate_series(1, $K), i -> $a.sig[i] = $b.sig[i]))"

  // ---------------------------------------------------------------------
  // shingle containment: k minhashes of a fingerprint SET, in bands
  // ---------------------------------------------------------------------

  /** The four fingerprint columns of a shingle row. */
  val Fingerprint: Seq[String] = Seq("s1", "q1", "s2", "q2")

  private def containmentMin(i: Int, hk: Column): Column =
    min((lit(PerceptualDedup.containmentLshA(i)) * (hk % XHash.P) +
      lit(PerceptualDedup.containmentLshB(i))) % XHash.P)

  /** The containment band rows of a shingle frame: group its rows by
    * `group` (the set each row belongs to), take `k` minhashes of each
    * set's md5 fingerprint keys, and band them `bands` ways (band b is
    * the h60 of its minhashes joined by `^`). Columns: the `group` names,
    * `band`, `key`.
    */
  def containmentBands(shingles: DataFrame, group: Seq[Column], k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val keyed = shingles.select(
      group :+ XHash.h60(concat_ws("^", Fingerprint.map(col): _*)).as("hk"): _*)
    val g = keyed.columns.toSeq.init.map(col)
    val mins = keyed.groupBy(g: _*).agg(
      containmentMin(0, col("hk")).as("m0"),
      (1 until k).map(i => containmentMin(i, col("hk")).as(s"m$i")): _*)
    bandRows(mins,
      array((0 until bands).map { b =>
        XHash.h60(concat_ws("^", (b * rows until (b + 1) * rows).map(i => col(s"m$i")): _*))
      }: _*),
      g: _*)
  }

  /** The exact containment verify's intersection: for each candidate
    * pair of `cand` (the `lid` and `rid` columns), `n_inter` = how many
    * fingerprints the left set (`left`: `lid` + [[Fingerprint]]) shares
    * with the right set (`right`: `rid` + [[Fingerprint]]).
    */
  def intersections(
      cand: DataFrame,
      left: DataFrame,
      lid: Seq[String],
      right: DataFrame,
      rid: Seq[String]): DataFrame =
    cand.join(left, lid).join(right, rid ++ Fingerprint)
      .groupBy((lid ++ rid).map(col): _*).agg(count(lit(1)).as("n_inter"))

  /** The directional containment rule: den·|A∩B| ≥ num·|A|. */
  def contained(nInter: Column, nA: Column, num: Int, den: Int): Column =
    nInter * den >= nA * num

  /** DuckDB twin of [[containmentBands]]'s minhashes: the `k` select
    * columns `m0..m{k-1}` over an `hk` column.
    */
  def containmentMinsSql(k: Int): String =
    (0 until k).map(i =>
      s"min((${PerceptualDedup.containmentLshA(i)} * (hk % ${XHash.P}) + " +
        s"${PerceptualDedup.containmentLshB(i)}) % ${XHash.P}) AS m$i")
      .mkString(", ")

  /** DuckDB twin of [[containmentBands]]'s band rows: (`group`, bj, bk)
    * over the `src` relation of [[containmentMinsSql]] columns.
    */
  def containmentBandsSql(src: String, group: String, k: Int, bands: Int): String = {
    val rows = k / bands
    (0 until bands).map { b =>
      val inner = (b * rows until (b + 1) * rows)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || '^' || ")
      s"SELECT $group, $b AS bj, ${XHash.h60Sql(inner)} AS bk FROM $src"
    }.mkString(" UNION ALL ")
  }

  // ---------------------------------------------------------------------
  // media dHash: the bands array IS the band-key array
  // ---------------------------------------------------------------------

  /** Hamming distance between two equal-width dHash band arrays. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))), lit(0), (acc, v) => acc + v)
}
