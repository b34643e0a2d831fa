package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

import graft.model.Transaction

/** Seeded bank-export CSV inputs and the plain-Scala model of the lake they
  * should produce. The program under test only ever sees the files; the
  * model is an independent fold over the generated rows (keep-first by
  * `Transaction.tieBreak` within a batch, later batches win).
  */
object TxnData {

  type Key = (String, String, String, String, String)

  final case class Row(
      details: String, date: String, description: String, amount: Double,
      balance: Double, category: String, txnType: String, check: String,
      source: String, account: String) {
    def key: Key = (details, date, description, source, account)
    def tie: (Double, Double, String, String, String) = (amount, balance, category, txnType, check)
    def toTransaction: Transaction =
      Transaction(details, date, description, amount, balance, category, txnType, check, source, account)
  }

  object Row {
    def of(r: org.apache.spark.sql.Row): Row =
      Row(r.getAs[String]("details"), r.getAs[String]("posting_date"),
        r.getAs[String]("description"), r.getAs[Double]("amount"),
        r.getAs[Double]("balance"), r.getAs[String]("category"),
        r.getAs[String]("txn_type"), r.getAs[String]("check_or_slip_num"),
        r.getAs[String]("data_source"), r.getAs[String]("account_id"))
  }

  /** One generated input directory and what `ingestDirectory` must report. */
  final case class Batch(
      files: Seq[(String, String)], // (name, content)
      valid: Seq[Row],              // valid rows in file order
      rejected: Int,               // invalid lines: the rows quarantine must get
      processed: Set[String],
      failures: Map[String, String]) {
    def inputBytes: Long = files.map(_._2.getBytes(StandardCharsets.UTF_8).length.toLong).sum
    def syncLog: Map[String, Long] = valid.groupBy(_.source).map { case (s, rs) => s"transactions_$s" -> rs.size.toLong }
    def write(dir: Path): Unit = {
      Files.createDirectories(dir)
      files.foreach { case (n, c) => Files.write(dir.resolve(n), c.getBytes(StandardCharsets.UTF_8)) }
    }
  }

  val NoSourceReason = "unable to extract source info from filename"
  val NotCsvReason = "Not a valid CSV file"

  private val mdY = DateTimeFormatter.ofPattern("MM/dd/yyyy")
  private val ChaseHeader = "Details,Posting Date,Description,Amount,Type,Balance,Check or Slip #"
  private val SynthHeader = "Details,Post Date,Description,Category,Amount,Type,Balance,Check or Slip #"
  private val Details = Array("DEBIT", "CREDIT", "CHECK", "DSLIP")
  private val Types = Array("ACH_DEBIT", "ACH_CREDIT", "DEBIT_CARD", "CHECK_PAID", "MISC_FEE")
  private val Merchants = Array("GROCER", "FUEL", "PAYROLL", "RENT", "UTILITY", "CAFE", "PHARMACY", "TRANSIT")
  private val Categories = Array("Food", "Travel", "Bills", "Income", "Health", "Shopping")
  val Accounts: Seq[String] = Seq("1234", "5678", "9012")
  val Year = 2024

  def epochSec(date: String): Long = LocalDate.parse(date, mdY).toEpochDay * 86400L

  final class Gen(seed: Long, tag: String = "") {
    val rnd = new Random(seed)
    private var serial = 0L

    private def money(lo: Int, hi: Int): String = {
      val cents = lo * 100 + rnd.nextInt((hi - lo) * 100) + 1
      f"${cents / 100}%d.${cents % 100}%02d"
    }

    def date(month: Int): String =
      LocalDate.of(Year, month, 1 + rnd.nextInt(LocalDate.of(Year, month, 1).lengthOfMonth())).format(mdY)

    /** A fresh row with a new merge key; amount/balance kept as CSV text. */
    def fresh(source: String, account: String, month: Int): (Row, String, String) = {
      serial += 1
      val amountS = (if (rnd.nextInt(3) == 0) "" else "-") + money(1, 2000)
      val balanceS = if (rnd.nextInt(50) == 0) "" else money(100, 90000)
      val row = Row(Details(rnd.nextInt(Details.length)), date(month),
        s"${Merchants(rnd.nextInt(Merchants.length))} ${rnd.nextInt(1000000)} N$tag$serial",
        amountS.toDouble, if (balanceS.isEmpty) 0.0 else balanceS.toDouble,
        if (source == "synthetic") Categories(rnd.nextInt(Categories.length)) else "",
        Types(rnd.nextInt(Types.length)),
        if (rnd.nextInt(10) == 0) (1000 + rnd.nextInt(9000)).toString else "",
        source, account)
      (row, amountS, balanceS)
    }

    /** The same merge key with new non-key fields (an update). */
    def updated(old: Row): (Row, String, String) = {
      val amountS = "-" + money(1, 2000)
      val balanceS = money(100, 90000)
      (old.copy(amount = amountS.toDouble, balance = balanceS.toDouble,
        txnType = Types(rnd.nextInt(Types.length))), amountS, balanceS)
    }

    /** CSV line of a row, in the file's header layout. */
    private def line(r: Row, amountS: String, balanceS: String, synth: Boolean): String =
      if (synth) Seq(r.details, r.date, r.description, r.category, amountS, r.txnType, balanceS, r.check).mkString(",")
      else Seq(r.details, r.date, r.description, amountS, r.txnType, balanceS, r.check).mkString(",")

    /** An invalid line: missing date, malformed date, or malformed amount. */
    private def invalidLine(r: Row, synth: Boolean): String = rnd.nextInt(3) match {
      case 0 => line(r.copy(date = ""), "-1.00", "5.00", synth)
      case 1 => line(r.copy(date = r.date.replace('/', '-')), "-1.00", "5.00", synth)
      case _ => line(r, "N/A", "5.00", synth)
    }

    /** One file: its content, its valid rows (file order) and its rejected count.
      * About 1% of lines are invalid and about 0.5% repeat an earlier key.
      */
    def file(rows: Seq[(Row, String, String)], synth: Boolean): (String, Seq[Row], Int) = {
      val out = new StringBuilder(if (synth) SynthHeader else ChaseHeader).append('\n')
      val valid = mutable.ArrayBuffer.empty[Row]
      var rejected = 0
      rows.foreach { case (r, a, b) =>
        if (rnd.nextInt(100) == 0) {
          out.append(invalidLine(r, synth)).append('\n'); rejected += 1
        }
        out.append(line(r, a, b, synth)).append('\n'); valid += r
        if (rnd.nextInt(200) == 0) {
          val (u, ua, ub) = updated(r)
          out.append(line(u, ua, ub, synth)).append('\n'); valid += u
        }
      }
      (out.result(), valid.toSeq, rejected)
    }

    /** Day-1 export: one file per (account, month) plus synthetic quarter
      * files, and the failure-path files: a quote-corrupt CSV, a CSV whose
      * name has no extractable source, and a non-CSV file.
      */
    def day1(rows: Int): Batch = {
      val parts = for (a <- Accounts; m <- 1 to 12) yield (f"chase${a}_${Year}_$m%02d.csv", "chase", a, Seq(m))
      val synth = (0 until 4).map(q => (s"synthetic_${Year}_q${q + 1}.csv", "synthetic", "0000", (1 to 3).map(_ + 3 * q)))
      val all = parts ++ synth
      val perFile = rows / all.size
      val made = all.map { case (name, src, acct, months) =>
        val (content, valid, rej) =
          file((1 to perFile).map(_ => fresh(src, acct, months(rnd.nextInt(months.size)))), src == "synthetic")
        (name, content, valid, rej)
      }
      val corrupt = s"chase5678_${Year}_corrupt.csv"
      val noSource = s"export_${Year}_01.csv"
      val extra = Seq(
        corrupt -> (ChaseHeader + "\nDEBIT,03/04/2024,BARE \"QUOTE STORE,-12.50,DEBIT_CARD,100.00,\n"),
        noSource -> (ChaseHeader + "\nDEBIT,03/04/2024,NO SOURCE,-1.00,DEBIT_CARD,1.00,\n"),
        "readme.txt" -> "bank export notes\n")
      Batch(
        made.map(m => m._1 -> m._2) ++ extra,
        made.flatMap(_._3), made.map(_._4).sum, made.map(_._1).toSet,
        Map(corrupt -> "", noSource -> NoSourceReason, "readme.txt" -> NotCsvReason))
    }

    /** A day-2 directory: one account, one or two months, two files; about
      * half the rows update keys the lake already holds in those months.
      */
    def day2(lake: Model, rows: Int, tag: String): Batch = {
      val acct = Accounts(rnd.nextInt(Accounts.size))
      val m0 = 1 + rnd.nextInt(11)
      val months = if (rnd.nextBoolean()) Seq(m0) else Seq(m0, m0 + 1)
      val existing = lake.rows.valuesIterator
        .filter(r => r.source == "chase" && r.account == acct && months.contains(r.date.take(2).toInt))
        .toArray
      val nUpd = math.min(rows / 2, existing.length)
      val upd = rnd.shuffle(existing.toSeq).take(nUpd).map(updated)
      val fresh_ = (1 to rows - nUpd).map(_ => fresh("chase", acct, months(rnd.nextInt(months.size))))
      val mixed = rnd.shuffle(upd ++ fresh_)
      val (a, b) = mixed.splitAt(mixed.size / 2)
      val made = Seq(a, b).zipWithIndex.map { case (rs, i) =>
        val name = s"chase${acct}_${Year}_${tag}_part$i.csv"
        val (content, valid, rej) = file(rs, synth = false)
        (name, content, valid, rej)
      }
      Batch(made.map(m => m._1 -> m._2), made.flatMap(_._3), made.map(_._4).sum,
        made.map(_._1).toSet, Map.empty)
    }
  }

  /** The expected lake: one row per merge key. */
  final class Model {
    val rows: mutable.HashMap[Key, Row] = mutable.HashMap.empty

    /** Keep-first by tie-break within the batch; the batch wins over the lake. */
    def ingest(batch: Seq[Row]): Unit =
      batch.groupBy(_.key).foreach { case (k, rs) => rows(k) = rs.minBy(_.tie) }

    def digest: Digest = Digest.of(rows.valuesIterator)
  }

  /** Order-independent content digest: row count plus a sum and an xor of
    * per-row hashes.
    */
  final case class Digest(count: Long, sum: Long, xor: Long)
  object Digest {
    def of(rows: Iterator[Row]): Digest = {
      var n, s, x = 0L
      rows.foreach { r =>
        val h = scala.util.hashing.MurmurHash3.productHash(r).toLong * 0x9E3779B97F4A7C15L +
          r.productIterator.mkString("\u0001").hashCode
        n += 1; s += h; x ^= h
      }
      Digest(n, s, x)
    }
  }

  /** The API id of a lake row: md5 over the length-prefixed merge key. */
  def apiId(r: Row): String = {
    val s = Seq(r.details, r.date, r.description, r.source, r.account)
      .map(f => s"${f.length}:$f").mkString
    val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    md.map(b => f"${b & 0xff}%02x").mkString
  }

  def apiType(r: Row): String = if (r.amount >= 0) "ingress" else "egress"
}
