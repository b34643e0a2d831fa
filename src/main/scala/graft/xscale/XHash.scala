package graft.xscale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Cross-engine deterministic hashing primitives.
  *
  * The driver's correctness gate hash-compares our Spark results against
  * DuckDB running the oracle SQL, so every hash-based operator (MinHash,
  * SimHash, LSH, fingerprints) must use a hash BOTH engines compute
  * identically. `md5` is the common primitive: both produce the same
  * lowercase hex, and a 15-hex-digit prefix parses into a positive 60-bit
  * BIGINT in both (`conv(_,16,10)` in Spark, `('0x'||_)::BIGINT` in DuckDB).
  *
  * Scale note: md5-per-shingle is pure per-row compute inside whole-stage
  * codegen — embarrassingly parallel, no shuffle; at 100 TB the cost is
  * CPU-bound scan work that scales linearly with executors.
  */
object XHash {

  /** Modulus for MinHash permutations: 2^31 - 1 (prime). Keeps
    * `a * (h % P) + b` below 2^62 so int64 arithmetic never overflows in
    * either engine. A constant, so the native signature loops divide by a
    * literal.
    */
  final val P = 2147483647L

  /** The text MinHash permutation family, h_i(x) = (a_i·(x mod P) + b_i)
    * mod P: the one definition the native signature loops
    * (`MinHashSig`, `MinHashAgg`) and the oracle SQL literals
    * (`Dedup.As`/`Bs`) read.
    */
  def minhashA(i: Int): Long = 2L * i + 1
  def minhashB(i: Int): Long = 104729L * (i + 1) % P

  /** 60-bit positive hash of a string column. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** DuckDB SQL text for the same hash (for oracle authoring). */
  def h60Sql(inner: String): String =
    s"('0x' || substr(md5($inner), 1, 15))::BIGINT"

  /** Driver-side twin of [[h60]] — used to derive constants (e.g. LSH
    * hyperplane components) that are inlined as literals into BOTH the
    * Spark plan and the oracle SQL.
    */
  def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }
}
