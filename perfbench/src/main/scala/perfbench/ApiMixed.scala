package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.lake.Lake
import graft.query.ApiSurface
import perfbench.TxnData.{Digest, Model, Row}

/** The serving phase of `lake_daily`: the reference API client's surface
  * against the lake the day's ingest built. One closed-loop client sends
  * whole cycles of point lookups (of a present and of an absent id), a
  * 7-31-day range search and a single insert, and the lake is compacted
  * with `Lake.compact(sortBy = posting_date)`. The query layer and the
  * lake read path do this work. Inserts grow the `_delta` sidecar that every later
  * read must fold.
  */
object ApiMixed {

  sealed trait Op
  final case class Lookup(pick: Double, absent: Boolean) extends Op
  final case class Search(ingress: Boolean, startDay: Int, days: Int) extends Op
  final case class Insert(row: Row) extends Op

  /** The client's calls, in cycles of one call of each kind the reference
    * client sends: an insert, a lookup that finds its id, a lookup of an
    * absent id and a range search. Nothing in the repository measures how
    * often a user makes each call, so each kind gets equal weight, and the
    * run measures whole cycles only, so every run sends the same mix. The
    * insert leads, so an untimed first cycle also warms the reads that fold
    * the `_delta` sidecar. The seed picks the rows looked up, the search
    * windows and the inserted rows.
    */
  def cycles(gen: TxnData.Gen, n: Int): IndexedSeq[Seq[Op]] = {
    val rnd = gen.rnd
    (0 until n).map { _ =>
      Seq(
        Insert(gen.fresh("chase", TxnData.Accounts(rnd.nextInt(3)), 1 + rnd.nextInt(12))._1),
        Lookup(rnd.nextDouble(), absent = false),
        Lookup(rnd.nextDouble(), absent = true),
        Search(rnd.nextBoolean(), rnd.nextInt(366 - 31), 7 + rnd.nextInt(25)))
    }
  }

  /** The model the client checks answers against. Inserts only add keys. */
  final class State(model: Model) {
    val rows: mutable.ArrayBuffer[Row] = mutable.ArrayBuffer.from(model.rows.values)
    private val epochs = mutable.ArrayBuffer.from(rows.map(r => TxnData.epochSec(r.date)))
    def add(r: Row): Unit = { rows += r; epochs += TxnData.epochSec(r.date) }
    def countIn(ingress: Boolean, lo: Long, hi: Long): Int = {
      var n = 0
      var i = 0
      while (i < rows.length) {
        val e = epochs(i)
        if (e >= lo && e <= hi && (rows(i).amount >= 0) == ingress) n += 1
        i += 1
      }
      n
    }
    def digest: Digest = Digest.of(rows.iterator)
  }

  private def deltaFiles(lake: Path): Double = {
    val d = lake.resolve("_delta")
    if (!Files.exists(d)) 0.0 else Fs.dataFiles(d).size.toDouble
  }

  /** Sends one call, records its wall under its kind and checks its answer. */
  def apply(ctx: Ctx, lake: Path, st: State, op: Op, record: Boolean): Unit = {
    import ctx._
    val lakeS = lake.toString
    def timed[T](kind: String)(body: Tracer.Span => T): T = {
      val (r, wall) = rec.op {
        tr.span(s"api.$kind") { s =>
          if (tr.on) { s.tag("lake", lakeS); s.attr("delta_files", deltaFiles(lake)) }
          body(s)
        }
      }
      if (record) rec.add(s"${kind}_ms", wall * 1000.0)
      r
    }
    op match {
      case Lookup(pick, absent) =>
        val (id, typ) =
          if (absent) (TxnData.apiId(Row("ABSENT", "01/01/1999", s"$pick", 0, 0, "", "", "", "chase", "0")), "egress")
          else {
            val r = st.rows((pick * st.rows.size).toInt)
            (TxnData.apiId(r), TxnData.apiType(r))
          }
        val got = timed("lookup") { s =>
          val ids = ApiSurface.getTransactionById(Lake.readLake(spark, lakeS), id, typ)
            .select("id").collect().map(_.getString(0)).toSeq
          s.attr("rows_returned", ids.size.toDouble)
          ids
        }
        rec.check(got == (if (absent) Nil else Seq(id)), s"lookup $id returned ${got.size} rows")
      case Search(ingress, startDay, days) =>
        val lo = TxnData.epochSec(f"01/01/${TxnData.Year}%d") + startDay * 86400L
        val hi = lo + days * 86400L - 1L
        val typ = if (ingress) "ingress" else "egress"
        val got = timed("range") { s =>
          val ids = ApiSurface.historySearch(Lake.readLake(spark, lakeS), typ, lo, hi)
            .collect().map(_.getString(0))
          s.attr("rows_returned", ids.length.toDouble)
          ids
        }
        val want = st.countIn(ingress, lo, hi)
        rec.check(got.length == want && got.distinct.length == got.length,
          s"range $typ [$lo, $hi] returned ${got.length} ids, model $want")
      case Insert(row) =>
        val id = timed("insert")(_ => ApiSurface.addTransaction(spark, row.toTransaction, lakeS))
        st.add(row)
        rec.check(id == TxnData.apiId(row), s"insert returned id $id")
    }
  }

  /** The nightly `Lake.compact(sortBy = posting_date)`, on a snapshot of
    * the served lake, `_delta` sidecar included. One compaction is a few
    * short jobs, so one sample would be mostly jitter: it runs as several
    * passes, each on its own copy of the snapshot, so every pass folds the
    * same sidecar and rewrites the same files. Each pass checks that
    * compaction keeps the snapshot's `readLake` rows and removes the
    * sidecar.
    */
  final class Nightly(ctx: Ctx, lake: Path, st: State) {
    import ctx._
    private val snapshot = lake.resolveSibling("snapshot")
    Fs.copy(lake, snapshot)
    private val before = Digest.of(Lake.readLake(spark, snapshot.toString).collect().iterator.map(Row.of))
    rec.check(before == st.digest, s"readLake content $before, model ${st.digest}")

    /** Compacts copy `k` of the snapshot; returns the compacted copy. */
    def pass(k: Int, record: Boolean): Path = {
      val copy = lake.resolveSibling(s"compacted-$k")
      Fs.copy(snapshot, copy)
      val (_, wall) = rec.op {
        tr.span("api.compact") { s =>
          if (tr.on) { s.tag("lake", copy.toString); s.attr("delta_files", deltaFiles(copy)) }
          Lake.compact(spark, copy.toString, sortBy = Seq("posting_date"))
          if (tr.on) {
            val files = Fs.dataFiles(copy)
            s.attr("files_after", files.size.toDouble)
            s.attr("bytes_rewritten", files.map(_.toFile.length()).sum.toDouble)
          }
        }
      }
      if (record) rec.add("maint_s", wall)
      rec.check(!Files.exists(copy.resolve("_delta")), "compact left the _delta sidecar")
      val after = Digest.of(spark.read.parquet(copy.toString).collect().iterator.map(Row.of))
      rec.check(after == before, s"compact changed the rows: $before -> $after")
      copy
    }
  }
}
