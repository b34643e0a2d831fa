/** Native Catalyst expressions for the hot inner loops of the similarity /
  * dedup operators (graft.xscale). Spark's higher-order functions
  * (`transform`/`zip_with`/`aggregate`) are CodegenFallback — every lambda
  * step is interpreted with boxing — so a 64-dim dot product inside an
  * all-pairs join pays ~128 allocations per pair. These expressions generate
  * tight primitive Java loops inside whole-stage codegen instead, which is
  * the preferred extension order for this engine: builtin functions > native
  * codegen Expression > UDF.
  *
  * Lives under `org.apache.spark.sql` so it can use
  * [[org.apache.spark.sql.classic.ExpressionUtils]] (private[sql]) to wrap
  * an [[Expression]] into a public [[Column]] — same technique the Spark
  * connectors use; only public semantics are exposed via [[api]].
  */
package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BooleanType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** Dot product of two `array<double>` columns as one codegen'd loop.
  *
  * Matches the left-fold semantics (and float addition order — so results
  * are bit-identical) of
  * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` on equal-length arrays;
  * shorter array truncates.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** 60-bit tf-weighted SimHash over an `array<long>` of term hashes:
  * bit k of the result is set iff `sum over h of ((h>>k)&1 == 1 ? +1 : -1)`
  * is positive. One pass over the terms with 60 primitive counters —
  * replaces a doubly-nested interpreted `aggregate(sequence(0,59), ...)`
  * that cost 60 lambda evaluations per term.
  */
case class SimHash60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val cnt = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var k = 0
      while (k < 60) {
        cnt(k) += (if (((h >> k) & 1L) == 1L) 1 else -1)
        k += 1
      }
      i += 1
    }
    var r = 0L
    var k = 0
    while (k < 60) { if (cnt(k) > 0) r |= (1L << k); k += 1 }
    r
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val cnt = ctx.freshName("cnt")
      val r = ctx.freshName("r")
      s"""
         |int $n = $a.numElements();
         |int[] $cnt = new int[60];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $k = 0; $k < 60; $k++) {
         |    $cnt[$k] += ((($h >> $k) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $r = 0L;
         |for (int $k = 0; $k < 60; $k++) {
         |  if ($cnt[$k] > 0) $r |= (1L << $k);
         |}
         |${ev.value} = $r;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Distinct 60-bit hashes of a document's word k-gram shingles, as one
  * codegen-friendly pass: whitespace-tokenize (same semantics as Spark's
  * `split(text, "\\s+")` / DuckDB's `regexp_split_to_array` — note the
  * engines' `\s` classes differ on U+000B and Unicode spaces; see the
  * cross-engine whitespace contract on [[graft.xscale.XText.words]],
  * which every tokenizer here inherits), form k-gram
  * shingles joined by single spaces (a doc shorter than k words contributes
  * its whole token join as one shingle), hash each with md5 and keep the
  * first 15 hex digits as a positive 60-bit long (identical in DuckDB:
  * `('0x' || substr(md5(s),1,15))::BIGINT`), dedup preserving first
  * occurrence. Replaces an interpreted `transform(shingles(words(text)))`
  * chain that cost ~2 ms/doc.
  */
case class ShingleHash60(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hash60"

  override def nullSafeEval(input: Any): Any =
    ShingleHash60.compute(input.toString, k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = org.apache.spark.sql.graftnative.ShingleHash60.compute($a.toString(), $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHash60 =
    copy(child = newChild)
}

object ShingleHash60 {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex digits = top 60 bits of the first 8 bytes, sign-free
    var r = 0L
    var i = 0
    while (i < 8) { r = (r << 8) | (d(i) & 0xffL); i += 1 }
    r >>> 4
  }

  def compute(text: String, k: Int): ArrayData = {
    val words = ws.split(text, -1)
    if (words.length < k) {
      ArrayData.toArrayData(Array(h60(words.mkString(" "))))
    } else {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= words.length - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        seen.add(h60(sb.toString))
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var n = 0
      while (it.hasNext) { out(n) = it.next(); n += 1 }
      ArrayData.toArrayData(out)
    }
  }
}

/** POSITIONAL word-k-gram hashes: one 60-bit hash per window position,
  * duplicates kept, order preserved (array index i = window starting at
  * word i), EMPTY array when the doc has fewer than k words — no
  * whole-text fallback, because positional consumers (x34 substring
  * coverage) must not see a pseudo-window. `posexplode` over the result
  * recovers (position, hash) without the interpreted
  * `transform(sequence(...), struct(...))` lambda chain, which is
  * CodegenFallback and pays boxed interpretation per window.
  */
case class WindowHash60(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_window_hash60"

  override def nullSafeEval(input: Any): Any =
    WindowHash60.compute(input.toString, k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = org.apache.spark.sql.graftnative.WindowHash60.compute($a.toString(), $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): WindowHash60 =
    copy(child = newChild)
}

object WindowHash60 {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  def compute(text: String, k: Int): ArrayData = {
    val words = ws.split(text, -1)
    if (words.length < k) return ArrayData.toArrayData(Array.emptyLongArray)
    val out = new Array[Long](words.length - k + 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= words.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var r = 0L
      var b = 0
      while (b < 8) { r = (r << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = r >>> 4
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Per-position bigram model keys: array of (ph, bh) structs where
  * ph = h60(word_i) and bh = h60(word_i + " " + word_{i+1}), duplicates and
  * order kept, empty below 2 words. One tokenize+hash pass feeding the x33
  * bigram LM — emitting the PAIR as a struct matters: deriving ph from a
  * separate token-hash array means the generator carries that whole array
  * per exploded row (measured 2.3x slower at sf0.1), and a string-pair
  * explode shuffles text instead of 8-byte keys.
  */
case class BigramHash60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BigramHash60.schema
  override def prettyName: String = "graft_bigram_hash60"

  override def nullSafeEval(input: Any): Any =
    BigramHash60.compute(input.toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = org.apache.spark.sql.graftnative.BigramHash60.compute($a.toString());"
    })

  override protected def withNewChildInternal(newChild: Expression): BigramHash60 =
    copy(child = newChild)
}

object BigramHash60 {
  val schema: DataType = ArrayType(
    StructType(Seq(
      StructField("ph", LongType, nullable = false),
      StructField("bh", LongType, nullable = false))),
    containsNull = false)

  private val ws = java.util.regex.Pattern.compile("\\s+")

  def compute(text: String): ArrayData = {
    val words = ws.split(text, -1)
    if (words.length < 2) return ArrayData.toArrayData(Array.empty[AnyRef])
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      md.reset()
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var r = 0L
      var b = 0
      while (b < 8) { r = (r << 8) | (d(b) & 0xffL); b += 1 }
      r >>> 4
    }
    val out = new Array[AnyRef](words.length - 1)
    var i = 0
    while (i < words.length - 1) {
      out(i) = new GenericInternalRow(
        Array[Any](h60(words(i)), h60(words(i) + " " + words(i + 1))))
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** 60-bit hashes of every whitespace token of a document, duplicates kept
  * and order preserved (unlike [[ShingleHash60]], which dedups) — the input
  * to tf-weighted SimHash. Same tokenization and md5-60bit semantics as
  * `transform(split(text, "\\s+"), h60)` in one codegen-friendly pass.
  */
case class TokenHash60(child: Expression, off: Int = 0)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_hash60"

  override def nullSafeEval(input: Any): Any =
    TokenHash60.compute(input.toString, off)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = org.apache.spark.sql.graftnative.TokenHash60.compute($a.toString(), $off);"
    })

  override protected def withNewChildInternal(newChild: Expression): TokenHash60 =
    copy(child = newChild)
}

object TokenHash60 {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** `off` selects which 8 md5 bytes feed the 60-bit word: 0 = hex digits
    * 1-15 (`substr(md5(w), 1, 15)` in DuckDB), 8 = hex digits 17-31
    * (`substr(md5(w), 17, 15)`) — an INDEPENDENT second word for the
    * 120-bit wide simhash (graft.xscale.Dedup x15).
    */
  def compute(text: String, off: Int): ArrayData = {
    val words = ws.split(text, -1)
    val out = new Array[Long](words.length)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest(words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var r = 0L
      var j = off
      while (j < off + 8) { r = (r << 8) | (d(j) & 0xffL); j += 1 }
      out(i) = r >>> 4
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** MinHash signature over an `array<long>` of shingle hashes: element i is
  * `min over h of (a_i * (h mod p) + b_i) mod p` with `a_i = 2i+1`,
  * `b_i = (104729 * (i+1)) mod p`, `p = 2^31-1` — the same permutation
  * family [[graft.xscale.Dedup]] inlines into its DuckDB oracle. One fused
  * pass instead of K interpreted `array_min(transform(...))` scans.
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = org.apache.spark.sql.graftnative.MinHashSig.compute($a, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  import graft.xscale.XHash.{minhashA, minhashB, P}

  def compute(hs: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val hm = hs.getLong(i) % P
      var j = 0
      while (j < k) {
        val v = (minhashA(j) * hm + minhashB(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }
}

/** Squared L2 distance between two `array<long>` columns as one codegen'd
  * primitive loop (shorter array truncates). Long-integer arithmetic is
  * order-independent and exact, which is what makes the IVF k-means
  * quantizer (graft.xscale.Similarity x13) reproducible bit-for-bit in both
  * Spark and the DuckDB oracle — double sums would be partition-order
  * dependent.
  */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sqdist_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): SqDistLong =
    copy(left = newLeft, right = newRight)
}

/** Membership probe of a long key against a pre-built Bloom filter
  * ([[org.apache.spark.util.sketch.BloomFilter]], the same sketch Spark's
  * runtime row-group filters use). The serialized filter travels with the
  * expression as plain bytes (case-class field, Java-serializable
  * regardless of the sketch impl) and is deserialized once per executor via
  * a transient lazy; codegen references THIS expression and calls through,
  * so the probe is a single virtual call inside whole-stage codegen — no
  * boxing, no UDF.
  *
  * Scale rationale (graft.xscale.IncrementalDedup x17): a Bloom filter has
  * NO false negatives, so `!might_contain(key)` proves a key is absent from
  * the corpus without touching it. An incremental dedup batch therefore
  * never shuffles the 100 TB corpus — only Bloom-positive candidates (true
  * dups + ~fpp of the batch) proceed to exact verification.
  */
case class BloomMightContainLong(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(filterBytes))

  def mightContain(key: Long): Boolean = bloom.mightContainLong(key)

  override def nullSafeEval(key: Any): Any = mightContain(key.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", this, classOf[BloomMightContainLong].getName)
    nullSafeCodeGen(ctx, ev, k => s"${ev.value} = $ref.mightContain($k);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}

/** Number of CSV fields in a raw line (RFC-4180 quoting: commas inside
  * double quotes don't split; `""` is an escaped quote). Used to replicate
  * the reference's ragged-row test `len(record) < len(header)`
  * (csv/csv.go:82-84) on Spark's `_corrupt_record` column, where "fewer
  * tokens" and "empty trailing token" are otherwise indistinguishable (both
  * surface as null under PERMISSIVE parsing).
  */
case class CsvFieldCount(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_csv_field_count"

  override def nullSafeEval(input: Any): Any =
    CsvFieldCount.compute(input.toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = org.apache.spark.sql.graftnative.CsvFieldCount.compute($a.toString());"
    })

  override protected def withNewChildInternal(newChild: Expression): CsvFieldCount =
    copy(child = newChild)
}

object CsvFieldCount {
  def compute(line: String): Long = {
    var count = 1L
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') i += 1
        else if (c == '"') inQ = false
      } else if (c == '"') inQ = true
      else if (c == ',') count += 1
      i += 1
    }
    count
  }
}

/** First strict-quoting violation in a whole CSV file, or null if the file
  * is well-formed. Replicates Go `encoding/csv` with `LazyQuotes=false`
  * (reference csv/csv.go:52-56 uses the stock reader): a bare `"` inside a
  * non-quoted field, or anything but `,` / end-of-line / EOF / `""` after a
  * closing quote, is an error — and the reference then fails the WHOLE file
  * (csv/csv.go:75-79 returns the error ⇒ datalake.go:84-96 counts the file
  * failed). Spark's PERMISSIVE mode has no whole-file failure notion, so
  * ingest runs this validator over `wholetext` rows first and excludes
  * offending files from the parse. One codegen'd byte scan per file — no
  * field materialization, embarrassingly parallel across files.
  */
case class CsvQuoteError(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_csv_quote_error"

  override def nullSafeEval(input: Any): Any = {
    val r = CsvQuoteError.compute(input.toString)
    if (r == null) null else org.apache.spark.unsafe.types.UTF8String.fromString(r)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      s"""
         |String $r = org.apache.spark.sql.graftnative.CsvQuoteError.compute($a.toString());
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($r);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CsvQuoteError =
    copy(child = newChild)
}

object CsvQuoteError {
  // Go's csv error texts (encoding/csv ErrBareQuote / ErrQuote).
  private val BareQuote = "bare \" in non-quoted field"
  private val Quote = "extraneous or missing \" in quoted-field"

  private def err(line: Int, msg: String): String = s"parse error on line $line: $msg"

  /** Scan `content` with Go's record grammar; return the first error or null.
    * Blank lines are skipped (encoding/csv skips them before each record);
    * `\r\n` and `\n` both terminate records; a lone `\r` is field data.
    */
  def compute(content: String): String = {
    val n = content.length
    var i = 0
    var line = 1
    while (i < n) {
      if (content.charAt(i) == '\n') { line += 1; i += 1 }
      else if (content.charAt(i) == '\r' && i + 1 < n && content.charAt(i + 1) == '\n') {
        line += 1; i += 2
      } else {
        // one record
        var recordDone = false
        while (!recordDone) {
          if (i < n && content.charAt(i) == '"') {
            // quoted field
            i += 1
            var fieldDone = false
            while (!fieldDone) {
              if (i >= n) return err(line, Quote) // unterminated at EOF
              val c = content.charAt(i)
              if (c == '"') {
                if (i + 1 < n && content.charAt(i + 1) == '"') i += 2 // escaped ""
                else {
                  i += 1 // closing quote: next must be , / EOL / EOF
                  if (i >= n) { fieldDone = true; recordDone = true }
                  else if (content.charAt(i) == ',') { i += 1; fieldDone = true }
                  else if (content.charAt(i) == '\n') { line += 1; i += 1; fieldDone = true; recordDone = true }
                  else if (content.charAt(i) == '\r' && i + 1 < n && content.charAt(i + 1) == '\n') {
                    line += 1; i += 2; fieldDone = true; recordDone = true
                  } else if (content.charAt(i) == '\r' && i + 1 >= n) {
                    i += 1; fieldDone = true; recordDone = true
                  } else return err(line, Quote)
                }
              } else {
                if (c == '\n') line += 1
                i += 1
              }
            }
          } else {
            // non-quoted field: any '"' inside it is a bare quote
            var fieldDone = false
            while (!fieldDone) {
              if (i >= n) { fieldDone = true; recordDone = true }
              else {
                val c = content.charAt(i)
                if (c == ',') { i += 1; fieldDone = true }
                else if (c == '\n') { line += 1; i += 1; fieldDone = true; recordDone = true }
                else if (c == '\r' && i + 1 < n && content.charAt(i + 1) == '\n') {
                  line += 1; i += 2; fieldDone = true; recordDone = true
                } else if (c == '"') return err(line, BareQuote)
                else i += 1
              }
            }
          }
        }
      }
    }
    null
  }
}

/** All Gopher/C4 quality-rule metrics (graft.xscale.TextAnalysis x16/x27)
  * in ONE pass over the text, returned as a struct. The declarative chain
  * costs ~12 re-tokenizations per row once predicate pushdown substitutes
  * the per-rule aliases into a scan-level Filter — and the higher-order
  * lambdas inside (`filter`, `transform`) are CodegenFallback, so no
  * common-subexpression elimination rescues it. Field semantics are
  * bit-identical to the SQL twins in `TextAnalysis.gopherSqlCtes`:
  * tokenization = java-regex `\s+` split with limit -1, `swl` counts
  * non-whitespace codepoints (= `length(regexp_replace(text,'\s+',''))`),
  * `nsym` counts non-overlapping `#|\.\.\.` matches, `alpha` counts tokens
  * containing an ASCII lowercase letter, `d2`/`d3` count DISTINCT k-gram
  * shingles (whole-text fallback shingle when the doc is shorter than k).
  */
case class GopherMetrics(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = GopherMetrics.schema
  override def prettyName: String = "graft_gopher_metrics"

  override def nullSafeEval(input: Any): Any =
    GopherMetrics.compute(input.toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = org.apache.spark.sql.graftnative.GopherMetrics.compute($a.toString());"
    })

  override protected def withNewChildInternal(newChild: Expression): GopherMetrics =
    copy(child = newChild)
}

object GopherMetrics {
  val schema: StructType = StructType(
    Seq("nw", "swl", "nsym", "stop_hits", "alpha", "tot2", "d2", "tot3", "d3")
      .map(StructField(_, LongType, nullable = false)) ++
      Seq("r_words", "r_mwl", "r_stop", "r_alpha", "r_sym", "r_dup2", "r_dup3", "keep")
        .map(StructField(_, BooleanType, nullable = false)))

  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val sym = java.util.regex.Pattern.compile("#|\\.\\.\\.")

  private def distinctShingles(words: Array[String], k: Int): Long =
    if (words.length < k) 1L
    else {
      val seen = new java.util.HashSet[String]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= words.length - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      seen.size.toLong
    }

  def compute(text: String): InternalRow = {
    val words = ws.split(text, -1)
    val nw = words.length.toLong
    // swl: codepoints surviving regexp_replace(text, "\s+", "") — java
    // regex \s is ASCII-only [ \t\n\x0B\f\r]
    var swl = 0L
    var ci = 0
    while (ci < text.length) {
      val cp = text.codePointAt(ci)
      if (!(cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'))
        swl += 1
      ci += Character.charCount(cp)
    }
    var nsym = 0L
    val m = sym.matcher(text)
    while (m.find()) nsym += 1
    var stopHits = 0L
    var alpha = 0L
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w == "the" || w == "a" || w == "of" || w == "and") stopHits += 1
      var has = false
      var k = 0
      while (!has && k < w.length) {
        val c = w.charAt(k)
        if (c >= 'a' && c <= 'z') has = true
        k += 1
      }
      if (has) alpha += 1
      wi += 1
    }
    val tot2 = if (nw >= 2) nw - 1 else 1L
    val d2 = distinctShingles(words, 2)
    val tot3 = if (nw >= 3) nw - 2 else 1L
    val d3 = distinctShingles(words, 3)
    val rWords = nw >= 15 && nw <= 10000
    val rMwl = swl >= 3 * nw && swl <= 5 * nw
    val rStop = stopHits >= 2
    val rAlpha = 5 * alpha >= 4 * nw
    val rSym = 10 * nsym <= nw
    val rDup2 = 20 * (tot2 - d2) <= tot2
    val rDup3 = 50 * (tot3 - d3) <= tot3
    new GenericInternalRow(Array[Any](
      nw, swl, nsym, stopHits, alpha, tot2, d2, tot3, d3,
      rWords, rMwl, rStop, rAlpha, rSym, rDup2, rDup3,
      rWords && rMwl && rStop && rAlpha && rSym && rDup2 && rDup3))
  }
}

/** Gopher repetition signals (Rae et al. 2021 Table A1, the char-fraction
  * family x16 does not cover) in ONE pass over the text, as a struct:
  *
  *  - `totc`  — non-whitespace codepoints (= sum of word lengths; the
  *    denominator of every fraction, identical to x16's `swl`).
  *  - `top2/top3/top4` — max over word n-grams of `count(gram) ×
  *    chars(gram's words)`: the characters attributable to the single most
  *    repetitive n-gram. (Where the count ties, the max PRODUCT is taken —
  *    deterministic without a lexicographic tie-break, and monotone in the
  *    quantity the rule thresholds.)
  *  - `cov5/cov6` — characters of words covered by at least one n-gram
  *    occurring ≥ 2 times: POSITIONAL coverage (a union of [p, p+n-1]
  *    spans), so overlapping duplicate grams are not double-counted —
  *    Gopher's "fraction of characters contained within duplicate
  *    n-grams", not the count×len over-approximation.
  *
  * All longs; fractions and rule booleans are derived declaratively in
  * graft.xscale.TextAnalysis (integer cross-multiplication, so no float
  * crosses the DuckDB oracle). Single pass per row, zero shuffle — at
  * 100 TB this is linear scan work inside whole-stage codegen.
  */
case class RepetitionMetrics(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = RepetitionMetrics.schema
  override def prettyName: String = "graft_repetition_metrics"

  override def nullSafeEval(input: Any): Any =
    RepetitionMetrics.compute(input.toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = org.apache.spark.sql.graftnative.RepetitionMetrics.compute($a.toString());"
    })

  override protected def withNewChildInternal(newChild: Expression): RepetitionMetrics =
    copy(child = newChild)
}

object RepetitionMetrics {
  val schema: StructType = StructType(
    Seq("totc", "top2", "top3", "top4", "cov5", "cov6")
      .map(StructField(_, LongType, nullable = false)))

  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** Codepoint count (DuckDB `length()` semantics, not UTF-16 units). */
  private def cp(s: String): Long = s.codePointCount(0, s.length).toLong

  /** max over n-grams of count × gram-word-chars; 0 when nw < n. */
  private def topProduct(words: Array[String], wlen: Array[Long], n: Int): Long = {
    if (words.length < n) return 0L
    val counts = new java.util.HashMap[String, Long]()
    val chars = new java.util.HashMap[String, Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= words.length - n) {
      sb.setLength(0)
      var c = 0L
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        c += wlen(i + j)
        j += 1
      }
      val g = sb.toString
      counts.merge(g, 1L, java.lang.Long.sum)
      chars.putIfAbsent(g, c)
      i += 1
    }
    var best = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val p = e.getValue * chars.get(e.getKey)
      if (p > best) best = p
    }
    best
  }

  /** Chars of word positions covered by any n-gram occurring ≥ 2 times. */
  private def dupCoverage(words: Array[String], wlen: Array[Long], n: Int): Long = {
    if (words.length < n) return 0L
    val counts = new java.util.HashMap[String, Long]()
    val grams = new Array[String](words.length - n + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= words.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      grams(i) = sb.toString
      counts.merge(grams(i), 1L, java.lang.Long.sum)
      i += 1
    }
    val covered = new Array[Boolean](words.length)
    i = 0
    while (i < grams.length) {
      if (counts.get(grams(i)) >= 2L) {
        var j = i
        while (j < i + n) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    var s = 0L
    i = 0
    while (i < words.length) {
      if (covered(i)) s += wlen(i)
      i += 1
    }
    s
  }

  def compute(text: String): InternalRow = {
    val words = ws.split(text, -1)
    val wlen = new Array[Long](words.length)
    var totc = 0L
    var i = 0
    while (i < words.length) {
      wlen(i) = cp(words(i))
      totc += wlen(i)
      i += 1
    }
    new GenericInternalRow(Array[Any](
      totc,
      topProduct(words, wlen, 2),
      topProduct(words, wlen, 3),
      topProduct(words, wlen, 4),
      dupCoverage(words, wlen, 5),
      dupCoverage(words, wlen, 6)))
  }
}

/** Per-row character profile (x111) in ONE pass over the text, as a struct
  * of longs:
  *
  *  - `n_cp` — codepoint count (supplementary-plane chars count once,
  *    unlike UTF-16 `length`).
  *  - `n_nonascii` — codepoints > 0x7F (mojibake / encoding-mix signal).
  *  - `n_ctrl` — control codepoints other than \t \n \r (binary-in-text
  *    contamination).
  *  - `n_repl` — U+FFFD replacement chars (a decoder already lost bytes
  *    upstream; the strongest mis-decode signal there is).
  *  - `coll_num` — Σ c·(c−1) over per-codepoint counts: the numerator of
  *    the character collision probability (Rényi-2 diversity). With the
  *    denominator n_cp·(n_cp−1) it gives an exact-rational repetitiveness
  *    score — no logs, so the fixed-point value is bit-identical
  *    cross-engine (the entropy-without-libm trick).
  *  - `n_distinct` — distinct codepoints (effective alphabet floor).
  *
  * Histogram is an int[128] fast path + a boxed map only for the
  * non-ASCII tail. Single pass inside whole-stage codegen; at 100 TB this
  * is linear scan work with zero shuffle.
  */
case class CharProfile(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = CharProfile.schema
  override def prettyName: String = "graft_char_profile"

  override def nullSafeEval(input: Any): Any =
    CharProfile.compute(input.toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = org.apache.spark.sql.graftnative.CharProfile.compute($a.toString());"
    })

  override protected def withNewChildInternal(newChild: Expression): CharProfile =
    copy(child = newChild)
}

object CharProfile {
  val schema: StructType = StructType(
    Seq("n_cp", "n_nonascii", "n_ctrl", "n_repl", "coll_num", "n_distinct")
      .map(StructField(_, LongType, nullable = false)))

  def compute(text: String): InternalRow = {
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Array[Long]] = null
    var nCp = 0L
    var nNonAscii = 0L
    var nCtrl = 0L
    var nRepl = 0L
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      nCp += 1
      if (cp < 128) {
        ascii(cp) += 1
        if (cp < 0x20 && cp != '\t' && cp != '\n' && cp != '\r') nCtrl += 1
        if (cp == 0x7f) nCtrl += 1
      } else {
        nNonAscii += 1
        if (cp == 0xfffd) nRepl += 1
        if (other == null) other = new java.util.HashMap[Integer, Array[Long]]()
        val slot = other.get(cp)
        if (slot == null) other.put(cp, Array(1L)) else slot(0) += 1
      }
      i += Character.charCount(cp)
    }
    var collNum = 0L
    var nDistinct = 0L
    var j = 0
    while (j < 128) {
      val c = ascii(j)
      if (c > 0) { nDistinct += 1; collNum += c * (c - 1) }
      j += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val c = it.next()(0)
        nDistinct += 1
        collNum += c * (c - 1)
      }
    }
    new GenericInternalRow(Array[Any](nCp, nNonAscii, nCtrl, nRepl, collNum, nDistinct))
  }
}

/** Public Column-level API for the native expressions. */
object api {
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def simhash60(termHashes: Column): Column =
    ExpressionUtils.column(SimHash60(ExpressionUtils.expression(termHashes)))

  def shingleHash60(text: Column, k: Int): Column =
    ExpressionUtils.column(ShingleHash60(ExpressionUtils.expression(text), k))

  def minhashSig(shingleHashes: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSig(ExpressionUtils.expression(shingleHashes), k))

  def csvFieldCount(line: Column): Column =
    ExpressionUtils.column(CsvFieldCount(ExpressionUtils.expression(line)))

  def csvQuoteError(content: Column): Column =
    ExpressionUtils.column(CsvQuoteError(ExpressionUtils.expression(content)))

  def sqdistLong(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SqDistLong(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def tokenHash60b(text: Column): Column =
    ExpressionUtils.column(TokenHash60(ExpressionUtils.expression(text), 8))

  def tokenHash60(text: Column): Column =
    ExpressionUtils.column(TokenHash60(ExpressionUtils.expression(text)))

  def gopherMetrics(text: Column): Column =
    ExpressionUtils.column(GopherMetrics(ExpressionUtils.expression(text)))

  def repetitionMetrics(text: Column): Column =
    ExpressionUtils.column(RepetitionMetrics(ExpressionUtils.expression(text)))

  def charProfile(text: Column): Column =
    ExpressionUtils.column(CharProfile(ExpressionUtils.expression(text)))

  def windowHash60(text: Column, k: Int): Column =
    ExpressionUtils.column(WindowHash60(ExpressionUtils.expression(text), k))

  def bigramHash60(text: Column): Column =
    ExpressionUtils.column(BigramHash60(ExpressionUtils.expression(text)))

  def bloomMightContain(filter: BloomFilter, key: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    ExpressionUtils.column(
      BloomMightContainLong(ExpressionUtils.expression(key), bos.toByteArray))
  }
}
