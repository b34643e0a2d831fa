package perfbench

import java.nio.file.Path

/** `lake_daily`: one day of the paper's system. The day's `ingest`
  * (day-1 into an empty lake, then day-2 batches), then API traffic from
  * one closed-loop client against the lake, with passes of the nightly
  * compaction of a snapshot of that lake between its cycles. See
  * [[IngestDaily]] and [[ApiMixed]] for the two phases.
  */
object LakeDaily {
  val SetupRepeats = 3
  /** Timed rounds a run makes at the least: an API cycle, then a pass of
    * the nightly compaction. Three give each call kind's median, and the
    * compaction's, three samples; alternating the two spreads each one's
    * samples over the whole timed window, so a burst of load on the shared
    * machine slows one sample of each, not all of one.
    */
  val Rounds = 3

  def run(ctx: Ctx): Unit = {
    import ctx._
    val p = ctx.setup(SetupRepeats)(i => IngestDaily.plan(ctx, s"s$i"))
    rec.set("day1_valid_rows", p.batches.head._2.valid.size.toDouble)
    // a cycle has never taken under 100 ms; ten per second of window is plenty
    val cycles = ApiMixed.cycles(new TxnData.Gen(seed ^ 0x5DEECE66DL, "I"),
      1 + math.max(Rounds, math.ceil(10 * seconds).toInt))

    val lakes = ctx.days { (tag, record, limit) =>
      // the traced pass re-composes ingestDirectory from the public
      // functions it calls; its lake must match the untraced one
      day(ctx, p, cycles, tag, if (tag == "traced") IngestDaily.traced(ctx) else IngestDaily.plain(ctx),
        record, limit)
    }
    if (lakes.size == 2)
      rec.check(IngestDaily.digest(ctx, lakes(0).toString) == IngestDaily.digest(ctx, lakes(1).toString),
        "the traced day built a different lake than the untraced day")
  }

  /** Ingest; one untimed cycle and one untimed compaction pass (on the
    * snapshot the nightly compaction takes after that cycle) to warm both
    * paths; then `Rounds` rounds, and more whole cycles while the next one
    * is expected (from the last one's wall) to end inside the window (or
    * exactly up to cycle `limit`). Each call records its wall under its
    * kind; `op_ms` is computed from those. Returns the last compacted copy
    * and the index after the last cycle.
    */
  private def day(ctx: Ctx, p: IngestDaily.Plan, cycles: IndexedSeq[Seq[ApiMixed.Op]], tag: String,
      ingest: IngestDaily.Ingest, record: Boolean, limit: Option[Int]): (Path, Int) = {
    val (lake, _) = IngestDaily.load(ctx, p, tag, ingest, record)
    ctx.mark(s"$tag.load")
    val st = new ApiMixed.State(p.model)
    val nightly = ctx.tr.span("api.warm") { _ =>
      cycles(0).foreach(ApiMixed.apply(ctx, lake, st, _, record = false))
      val n = new ApiMixed.Nightly(ctx, lake, st)
      n.pass(0, record = false)
      n
    }
    ctx.mark(s"$tag.warm")
    val seconds = if (ctx.tr.enabled) ctx.seconds / 2 else ctx.seconds
    val start = System.nanoTime()
    var last = 0L
    var compacted = lake
    var i = 1
    def nextFits = System.nanoTime() - start + last <= (seconds * 1e9).toLong
    while (i < cycles.size && limit.fold(i <= Rounds || nextFits)(i < _)) {
      val t0 = System.nanoTime()
      cycles(i).foreach(ApiMixed.apply(ctx, lake, st, _, record))
      if (i <= Rounds) compacted = nightly.pass(i, record)
      last = System.nanoTime() - t0
      i += 1
    }
    ctx.mark(s"$tag.ops")
    (compacted, i)
  }
}
