package graft

import org.apache.spark.sql.SparkSession

/** Command-line surface mirroring the reference's two commands
  * (reference: main.go:59-94):
  *
  *   - `ingest <unprocessedDir> <lakePath> <syncLogPath> [processedDir]` —
  *     scan a directory of bank-export CSVs, canonicalize/validate,
  *     dedup-upsert into the partitioned parquet lake, append the sync log,
  *     optionally move processed files, print the stats JSON report
  *     (reference: main.go:64-91, datalake/stats.go:35-44).
  *   - `generate-synthetic-data <rows> <target> [--persist]` — write N
  *     synthetic transactions as CSV, or with `--persist` append them
  *     directly into the lake instead, mirroring the reference's
  *     `--persist-to-mongo` either/or flag (reference: main.go:60-61,
  *     synthetic/generate.go:14-50, data.go:94-105).
  */
object Cli {

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  /** Filesystem-scheme-aware existence probe. Every state/sidecar probe
    * MUST go through here (Hadoop `FileSystem`, as the lake code does —
    * Lake.insertFast / readLake) rather than `java.io.File`: on HDFS/S3 —
    * the deployments where "classify without re-reading the corpus"
    * matters — a local-file probe always answers false, so an admit run
    * would re-bootstrap and OVERWRITE the append-only sidecar state,
    * silently erasing earlier batches' appended signatures.
    */
  private[graft] def hfsExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def main(args: Array[String]): Unit =
    if (!Set("ingest", "query", "generate-synthetic-data", "corpus", "report", "admit").contains(
        args.headOption.getOrElse(""))) {
      usage(); sys.exit(2)
    } else {
      val spark = Sessions.builder().getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      // O3: run-scoped timeout cancelling the run's job group at the
      // deadline (reference main.go:52-56; opt-in — see RunGuard scaladoc)
      val timedRun = () => sys.env.get("RUN_TIMEOUT_SECONDS").map(_.toLong) match {
        case Some(s) => RunGuard.withTimeout(spark, s, args.head)(run(spark, args.toList))
        case None    => run(spark, args.toList)
      }
      val code =
        try timedRun()
        catch {
          case e: RunGuard.RunTimeoutException =>
            System.err.println(s"""{"error":${jsonStr(e.getMessage)}}"""); 1
        } finally spark.stop()
      if (code != 0) sys.exit(code)
    }

  /** Command dispatch on a caller-owned session (testable: specs drive this
    * with the shared test session; `main` owns creation/stop). Returns the
    * process exit code.
    */
  private[graft] def run(spark: SparkSession, args: List[String]): Int = {
    // --ckpt <dir> (corpus, admit): the whole verb runs under that
    // checkpoint dir, so every stage-boundary cut is reliable
    val ckptDir = args match {
      case "corpus" :: _ :: _ :: rest => parseCorpusFlags(rest).flatMap(_.ckptDir)
      case "admit" :: _ :: _ :: _ :: rest => parseAdmitFlags(rest).flatMap(_.ckptDir)
      case _ => None
    }
    ckptDir match {
      case Some(dir) => Sessions.withCheckpointDir(spark, dir)(dispatch(spark, args))
      case None => dispatch(spark, args)
    }
  }

  private def dispatch(spark: SparkSession, args: List[String]): Int = args match {
    // no-arg form: everything from the environment (O2, loadConfig.go) —
    // CSV_DIR, UNPROCESSED_DIR, PROCESSED_DIR, MOVE_PROCESSED_FILES,
    // LAKE_PATH, SYNC_LOG_PATH, QUARANTINE_PATH
    case "ingest" :: Nil =>
      val cfg = Config.load()
      val stats = graft.lake.Lake.ingestDirectory(
        spark,
        cfg.unprocessedDir,
        cfg.lakePath,
        cfg.syncLogPath,
        if (cfg.moveProcessedFiles) Some(cfg.processedDir) else None,
        sys.env.get("QUARANTINE_PATH").filter(_.nonEmpty))
      printStats(stats)
      0

    case "ingest" :: unprocessed :: lake :: syncLog :: rest if rest.size <= 1 =>
      val stats = graft.lake.Lake.ingestDirectory(
        spark, unprocessed, lake, syncLog, rest.headOption,
        sys.env.get("QUARANTINE_PATH").filter(_.nonEmpty))
      printStats(stats)
      0

    // run a registered query by name against a testdata dir (the read
    // surface of the engine, mirroring the reference API's GET endpoints)
    case "query" :: name :: dir :: rest if rest.size <= 1 =>
      query.Registry.queries.get(name) match {
        case Some(fn) =>
          fn(spark, dir).show(rest.headOption.map(_.toInt).getOrElse(20), false)
          0
        case None =>
          System.err.println(
            s"unknown query '$name'; available:\n  " +
              query.Registry.queries.keys.toSeq.sorted.mkString("\n  "))
          2
      }

    // release-audit REPORT bundle: one command runs the datasheet battery
    // a corpus release ships with — per-source datasheet sketches (x38),
    // split-composition drift (x97), filter sensitivity sweep (x100),
    // held-out OOV rates (x102), length-quantile sheet (x104), held-out
    // n-gram coverage (x108), lexical profiles (x109), charset audit
    // (x111), source-divergence TV sheet (x115), positional-template
    // audit (x117), term-burstiness ranking (x119), markup residue
    // (x120), output-shard balance (x123), dedup length bias (x126),
    // dedup×filter stage overlap (x127), simhash threshold sweep (x129),
    // token-length profiles (x130) — plus, when an embeddings table
    // exists, the embedding QA block: norm audit (x106), per-dim stats
    // (x118), anisotropy (x124), LSH bucket health raw + centered
    // (x136/x137 — the probe-cost before/after), IMI cell health (x138)
    // — each written to <outDir>/<name>.parquet
    // plus one stats JSON line. The bundle reads each input ONCE per
    // audit and every audit is the registered oracle-verified query, so
    // the report numbers are exactly the Verify-gated ones.
    case "report" :: dir :: outDir :: Nil =>
      val battery = Seq(
        "x38_datasheet", "x97_split_drift", "x100_filter_sweep",
        "x102_oov_rate", "x104_length_quantiles", "x108_ngram_coverage",
        "x109_lexical_profile", "x111_charset_audit",
        "x115_source_divergence", "x117_template_slots", "x119_burstiness",
        "x120_markup_residue", "x123_shard_balance",
        "x126_dedup_length_bias", "x127_stage_overlap",
        "x129_threshold_sweep", "x130_token_profile") ++
        (if (hfsExists(spark, s"$dir/embeddings.parquet"))
          Seq("x106_norm_audit", "x118_dim_stats", "x124_anisotropy",
            "x136_lsh_buckets", "x137_lsh_centered", "x138_imi_cells")
        else Nil)
      // per-audit fault isolation (the Verify _failures posture): one
      // schema-drifted input must not abort the battery with partial
      // output and no summary — every audit reports a count or an error
      val rows = battery.map { name =>
        try {
          val df = query.Registry.queries(name)(spark, dir)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
          name -> Right(spark.read.parquet(s"$outDir/$name.parquet").count())
        } catch {
          case e: Throwable =>
            name -> Left(Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.toSeq.headOption.getOrElse(e.getClass.getName))
        }
      }
      println(rows.map {
        case (n, Right(c))  => s"${jsonStr(n)}:$c"
        case (n, Left(msg)) => s"${jsonStr(n)}:{\"error\":${jsonStr(msg)}}"
      }.mkString("{", ",", "}"))
      if (rows.exists(_._2.isLeft)) 1 else 0

    // either/or like the reference's --persist-to-mongo (generate.go:24-42):
    // CSV sink by default, direct lake append with --persist
    case "generate-synthetic-data" :: rows :: target :: rest
        if rest.isEmpty || rest == List("--persist") =>
      val df = graft.source.Synthetic.transactions(spark, rows.toLong)
      if (rest.nonEmpty) {
        graft.source.Synthetic.persistToLake(df, target)
        println(s"""{"rows":$rows,"lake":${jsonStr(target)}}""")
      } else {
        graft.source.Synthetic.writeCsv(df, target)
        println(s"""{"rows":$rows,"out":${jsonStr(target)}}""")
      }
      0

    // corpus preparation: quality filter -> exact dedup -> split -> pack,
    // written as a split-partitioned parquet corpus + one stats JSON line.
    // --strict additionally applies the x31 char-fraction repetition rules;
    // --despan additionally rewrites surviving docs with duplicated spans
    // removed (x43 — keep one copy of every shared 8-token window) AFTER
    // doc-level dedup, the FineWeb-style order: whole-doc dedup first so
    // span removal only fires on partial overlaps; --dsir <lang>
    // additionally keeps, of the NON-<lang> docs, only those selected by
    // the x51 sampled-threshold importance rule toward the <lang> subset
    // (selection runs after dedup so scores never count duplicates twice);
    // --scale runs the measured 100 TB dedup recipe (cascade exact-first →
    // near-dup CC → capped audits; --emb adds the IMI embedding signal).
    case "corpus" :: docsPath :: outDir :: rest
        if parseCorpusFlags(rest).isDefined =>
      val flags = parseCorpusFlags(rest).get
      // --ckpt <dir> (see run): every stage-boundary materialization below
      // becomes a RELIABLE checkpoint (object-store backed) instead of
      // executor-local blocks — at 100 TB an executor loss mid-pipeline
      // must not restart the whole corpus build
      def cut(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        graft.xscale.DedupClusters.ckpt(df)
      val docs = spark.read.parquet(docsPath)
      val cols = docs.columns.map(org.apache.spark.sql.functions.col).toSeq
      val quality = xscale.TextAnalysis.qualityFilter(docs).select(cols: _*)
      val kept =
        if (flags.strict) xscale.TextAnalysis.repetitionFilter(quality).select(cols: _*)
        else quality
      // --mquality <mediaParquet>: the multimodal QUALITY gate (x150's
      // rule) — drop docs whose media is decodable AND fails its
      // modality's exact-integer rule (image > 95% crushed/blown, audio
      // > 90% silent or > 10% rail-clipped, video > 50% black or > 90%
      // frozen; Multimodal.mediaQualityFrame). Media-less docs and
      // undecodable payloads always pass — the gate never drops what it
      // cannot read. A QUALITY stage, so it runs with the text rules
      // BEFORE any dedup (FineWeb order): a bad-media doc must not
      // survive as a dedup cluster's representative.
      val (mkept, mqualityDropped) = flags.mqualityPath match {
        case Some(mp) =>
          // the flagged set is cut before its two consumers (the
          // anti-join and the stats count) — uncut, each would re-run
          // the full media decode pass
          val bad = cut(xscale.Multimodal.mediaQualityFrame(
            spark.read.parquet(mp).join(
              kept.select("doc_id"), Seq("doc_id"), "left_semi"))
            .filter(org.apache.spark.sql.functions.col("decoded") &&
              org.apache.spark.sql.functions.col("flagged"))
            .select("doc_id"))
          (kept.join(bad, Seq("doc_id"), "left_anti"), bad.count())
        case None => (kept, 0L)
      }
      // Materialize the reused stage boundaries (the x57 rule): dedup
      // output feeds span removal (three internal reads) + the re-join +
      // its own stats count, and `selected` feeds split, packs, the write
      // AND a count — without the cuts every consumer re-runs the whole
      // upstream pipeline. The quality filter itself stays lazy (one
      // cheap per-row scan each for the dedup lineage and kept-count).
      val exactDeduped = cut(xscale.Dedup.dedupExact(mkept))
      // --scale: the MEASURED 100 TB dedup recipe (NOTES 100× tables) as
      // one preset — CASCADE exact-first (x99: clone mass collapses on the
      // cheap 8-byte norm-key groupBy before any candidate generation;
      // flat at 100× measured), then NEAR-dup on the exact survivors:
      // with --emb the joint text+embedding graph with the embedding leg
      // on x138 IMI product cells (x50_joint_imi — O(n·2√cells)
      // assignment, the measured remediation of flat auto-nc), else the
      // text-only simhash graph; plus CAPPED audits written beside the
      // corpus (x122 cluster diameter, mega-clusters sampled to 8; x121
      // LSH fidelity on a mod-10 doc sample) so the dedup's health is
      // part of the release, at audit cost that stays bounded at 100×.
      // the text-leg auto rule: narrow simhash inside its structural
      // ~1e5-docs boundary, banded MinHash-LSH past it (the narrow
      // 6-7-bit blocks hold n/128 docs per bucket value — quadratic by
      // construction at scale). The survivor count is one action on the
      // just-materialized checkpoint.
      lazy val nSurvivors = if (flags.scale) exactDeduped.count() else 0L
      lazy val scaleLeg = xscale.Dedup.textLegFor(nSurvivors)
      val dedupedDocs =
        if (!flags.scale) exactDeduped
        else {
          val pairs = flags.embPath match {
            case Some(embPath) =>
              // only surviving docs' vectors vote: an embedding pair
              // touching a quality-dropped or exact-dup-dropped id must
              // not pull a survivor into its cluster (left_semi on the
              // 8-byte id — one keyed join, no broadcast assumption)
              val emb = spark.read.parquet(embPath).join(
                exactDeduped.select(
                  org.apache.spark.sql.functions.col("doc_id").as("vec_id")),
                Seq("vec_id"), "left_semi")
              xscale.Dedup.jointPairsImi(
                exactDeduped, emb,
                trainSample = 0.1, textLeg = scaleLeg)
            case None =>
              xscale.Dedup.textLegPairs(exactDeduped, scaleLeg)
          }
          cut(graft.xscale.DedupClusters
            .dedupByPairs(exactDeduped, pairs)
            .select(cols: _*))
        }
      // --pdedup <mediaParquet>: the PERCEPTUAL dedup stage — a multimodal
      // corpus build must drop image/audio near-dups (re-encodes,
      // re-brightenings, re-gains) whose text and bytes all differ; x139's
      // pairs → CC wired into the build, FineWeb order (after whole-doc
      // text dedup, before span removal — span rewrite must not run on
      // docs the perceptual cut is about to drop). The survivor rule is
      // keep-BEST by payload size (x142's rule: of N copies of an image
      // at different sizes, keep the LARGEST — min-id keep-one throws
      // away the highest-fidelity training signal), doc_id tiebreak; the
      // score rides out of the single decode pass (mediaHashFrame's
      // nbytes), so survivor selection never re-reads media. Only
      // surviving docs' media vote (left_semi on the 8-byte id); the hash
      // width auto-picks wide past BandBoundary on the surviving media
      // count (mediaWideFor — the same rule the admission state bootstraps
      // with); modality detection is mediaHashFrame's (one decode pass,
      // images and clips in disjoint candidate spaces, small media in the
      // width-suffixed classic spaces under wide). Scale: payloads are
      // decoded ONCE (the hf cut) and only 16/32-bit band keys shuffle —
      // the measured x139/x140 shape.
      // when --pcontain shares --pdedup's media parquet (the common
      // case), the combined one-decode frame serves BOTH stages — bands
      // + nbytes for the band dedup, mod-tagged shingles for the
      // containment dedup (the --pmedia --ptrim hot-path rule)
      val sameMedia = flags.pdedupPath.isDefined &&
        flags.pcontainPath == flags.pdedupPath
      val (pdeduped, pcontainSh) = flags.pdedupPath match {
        case Some(mp) =>
          val media = spark.read.parquet(mp).join(
            dedupedDocs.select("doc_id"), Seq("doc_id"), "left_semi")
          val wide = xscale.PerceptualDedup.mediaWideFor(media.count())
          val (hf, shOpt) =
            if (sameMedia) {
              val combined = cut(
                xscale.PerceptualDedup.mediaHashShingleFrame(media, wide))
              (combined
                .filter(org.apache.spark.sql.functions.col("decoded"))
                .drop("shmod", "shingles"),
                Some(cut(xscale.PerceptualDedup.shingleRows(combined))))
            } else
              (cut(xscale.PerceptualDedup.mediaHashFrame(media, wide)
                .filter(org.apache.spark.sql.functions.col("decoded"))), None)
          val comp = graft.xscale.DedupClusters.connectedComponents(
            xscale.PerceptualDedup.bandNearDupPairs(
              hf, xscale.PerceptualDedup.widthThreshold(wide)))
          val scored = dedupedDocs.join(
            hf.select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("nbytes")),
            Seq("doc_id"), "left")
          (cut(graft.xscale.DedupClusters
            .dedupByComponentsKeepBest(scored, comp,
              org.apache.spark.sql.functions.coalesce(
                org.apache.spark.sql.functions.col("nbytes"),
                org.apache.spark.sql.functions.lit(-1L)))
            .select(cols: _*)), shOpt)
        case None => (dedupedDocs, None)
      }
      // --pcontain <mediaParquet>: the CONTAINMENT dedup stage — the
      // admission surface catches the trimmed/cropped/excerpted re-post
      // arriving tomorrow, but a corpus BUILD containing a video and its
      // trim (or an image and its tile-aligned crop, or a clip and its
      // pause-cut excerpt) kept both until this stage: band hashes
      // differ BY DESIGN for a containment re-post, so --pdedup cannot
      // see it. Per-modality LSH-candidate containment pairs + exact
      // verify over ONE mod-tagged shingle scan (the production posture
      // — never the raw fingerprint self-join), CC, keep the doc with
      // the MOST shingles per component (the longer/larger original IS
      // the source). Runs AFTER --pdedup (FineWeb order: still whole-doc
      // dedup, before span rewrite) over the surviving docs' media only.
      val pcontained = flags.pcontainPath match {
        case Some(mp) =>
          val sh0 = pcontainSh.getOrElse(
            cut(xscale.PerceptualDedup.mediaShingles(
              spark.read.parquet(mp).join(
                pdeduped.select("doc_id"), Seq("doc_id"), "left_semi"))))
          // only surviving docs' shingles vote (the shared combined frame
          // was cut on the pre-pdedup survivor set)
          val sh = sh0.join(pdeduped.select("doc_id"), Seq("doc_id"), "left_semi")
          val losers = xscale.PerceptualDedup.containmentLosersFromShingles(sh)
          cut(pdeduped.join(losers, Seq("doc_id"), "left_anti").select(cols: _*))
        case None => pdeduped
      }
      val deduped =
        if (flags.despan) {
          // docs emptied entirely by span removal carry no training signal
          // — drop them like any other filter stage
          val clean = xscale.DataPrep.removeSharedSpans(pcontained)
            .filter(org.apache.spark.sql.functions.col("text_clean") =!= "")
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("text_clean"))
          // n_chars must describe the REWRITTEN text: the documents schema
          // carries it and downstream consumers (x09 quality) read it, so a
          // stale pre-removal value would skew them silently
          cut(pcontained.drop("text")
            .join(clean, "doc_id")
            .withColumnRenamed("text_clean", "text")
            .withColumn("n_chars",
              org.apache.spark.sql.functions.length(
                org.apache.spark.sql.functions.col("text")).cast("long"))
            .select(cols: _*))
        } else pcontained
      val selected = flags.dsirLang match {
        case Some(lang) =>
          val c = org.apache.spark.sql.functions.col _
          val sel = xscale.DataPrep
            .dsirSelectThreshold(deduped, c("lang") === lang)
            .filter(c("selected")).select("doc_id")
          deduped.filter(c("lang") === lang)
            .unionByName(deduped.filter(c("lang") =!= lang).join(sel, "doc_id"))
            .select(cols: _*)
        case None => deduped
      }
      val selectedM = if (selected eq deduped) selected else cut(selected)
      val split = xscale.DataPrep.splitAssign(selectedM)
      val packs = xscale.DataPrep.packAssignments(split)
      // drop any input-carried n_tok: packs derives the authoritative count
      // from the (possibly despan-rewritten) text, and a duplicate column
      // would fail the parquet write
      val out = split.drop("n_tok")
        .join(packs.select("doc_id", "n_tok", "shard", "pack"), "doc_id")
      out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("split").parquet(outDir)
      // --scale audits ship BESIDE the corpus, AFTER its Overwrite write
      // (which clears outDir); the underscore dir is invisible to parquet
      // discovery, so reads of outDir see only the corpus
      if (flags.scale) {
        // past the narrow boundary the diameter audit's own pair
        // generation must switch to the wide blocks too
        xscale.Dedup.clusterDiameter(exactDeduped, maxClusterSize = 8L,
          wide = nSurvivors > xscale.Dedup.NarrowSimhashBoundary)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outDir/_audits/cluster_diameter")
        xscale.Dedup.lshFidelity(exactDeduped, sampleMod = 10L)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outDir/_audits/lsh_fidelity")
      }
      // Stats without re-running the pipeline: input + kept ride on ONE
      // annotated scan (the filter predicates as flag columns instead of a
      // second filtered pass); deduped/selected count materialized
      // checkpoints; all output stats come from ONE aggregation over the
      // written corpus. The job-count bound is spec-pinned.
      import org.apache.spark.sql.functions.{coalesce, count, countDistinct, lit, sum, when}
      val keepCol =
        if (flags.strict)
          xscale.TextAnalysis.gopherKeep && xscale.TextAnalysis.repetitionKeep
        else xscale.TextAnalysis.gopherKeep
      val annotated =
        if (flags.strict)
          xscale.TextAnalysis.repetitionAnnotate(xscale.TextAnalysis.gopherAnnotate(docs))
        else xscale.TextAnalysis.gopherAnnotate(docs)
      val inStats = annotated.agg(
        count(lit(1)),
        coalesce(sum(when(keepCol, 1L).otherwise(0L)), lit(0L))).head()
      val outStats = spark.read.parquet(outDir).agg(
        coalesce(sum(when(org.apache.spark.sql.functions.col("split") === "train", 1L)
          .otherwise(0L)), lit(0L)),
        coalesce(sum(when(org.apache.spark.sql.functions.col("split") === "val", 1L)
          .otherwise(0L)), lit(0L)),
        coalesce(sum(when(org.apache.spark.sql.functions.col("split") === "test", 1L)
          .otherwise(0L)), lit(0L)),
        countDistinct(org.apache.spark.sql.functions.col("shard"),
          org.apache.spark.sql.functions.col("pack"))).head()
      // the executed stage list, in order — the preset's contract
      // (spec-pinned), so a release's provenance is in its stats line
      val legName = if (flags.scale) scaleLeg match {
        case xscale.Dedup.MinhashLeg => "minhash"
        case _ => "simhash"
      } else ""
      val stages = Seq("quality") ++
        // strict prints BEFORE mquality because that is the applied order
        // (the repetition filter cuts `kept` before the media gate's
        // left_semi, so the cheaper text rule prunes the decode pass);
        // the two filters commute, the list reports execution
        (if (flags.strict) Seq("strict") else Nil) ++
        (if (flags.mqualityPath.isDefined) Seq("mquality") else Nil) ++
        Seq("dedup_exact") ++
        (if (flags.scale && flags.embPath.isDefined) Seq(s"neardup_joint_imi_$legName")
         else if (flags.scale) Seq(s"neardup_$legName") else Nil) ++
        (if (flags.scale) Seq("audit_diameter_capped", "audit_lsh_sampled") else Nil) ++
        (if (flags.pdedupPath.isDefined) Seq("pdedup") else Nil) ++
        (if (flags.pcontainPath.isDefined) Seq("pcontain") else Nil) ++
        (if (flags.despan) Seq("despan") else Nil) ++
        (if (flags.dsirLang.isDefined) Seq("dsir_threshold") else Nil) ++
        Seq("split", "pack")
      println(
        s"""{"input":${inStats.getLong(0)},"kept":${inStats.getLong(1)},""" +
          // "kept" is the TEXT-rule count (the annotated scan); the media
          // gate's cut gets its own figure so kept - deduped stays an
          // honest dedup attribution when --mquality is on
          (if (flags.mqualityPath.isDefined)
            s""""mquality_dropped":$mqualityDropped,"""
          else "") +
          s""""deduped":${deduped.count()},"selected":${selectedM.count()},""" +
          s""""train":${outStats.getLong(0)},"val":${outStats.getLong(1)},""" +
          s""""test":${outStats.getLong(2)},"packs":${outStats.getLong(3)},""" +
          s""""stages":[${stages.map(jsonStr).mkString(",")}],""" +
          s""""out":${jsonStr(outDir)}}""")
      0

    // daily-ingest ADMISSION (the x74 posture as a verb): classify an
    // arriving batch against an existing corpus WITHOUT re-clustering or
    // re-shuffling the corpus — exact key already in corpus / exact key
    // claimed by an earlier batch arrival / MinHash-band near-dup of a
    // corpus doc (x02's decision rule, batch x corpus candidates only) /
    // admitted. Writes <outDir>/admitted (the batch rows that belong in
    // the corpus, full batch columns) and <outDir>/report (per-status
    // count + bit_xor key checksum — exactly x74's oracle row shape, so
    // the report is the hash-verified currency), plus one stats line.
    // --sigs <dir>: persist the corpus's dedup state (doc_id, key,
    // K-minhash sig — Dedup.dedupSignatures) as a sidecar. The first run
    // bootstraps it from the corpus text; every later run classifies
    // against the SIDECAR and appends the admitted docs' signatures, so
    // the corpus text is never re-read or re-hashed — the frozen-index
    // pattern (x79's IVFPQ add) applied to dedup state. Without --sigs,
    // the corpus still contributes only one key projection + one
    // signature scan; admitting a few GB never re-shuffles the corpus.
    // --compact without any sidecar (--sigs/--esigs — nothing to
    // reconcile) and --emb/--bemb alone (the leg needs BOTH vector sides)
    // are contradictions — reject to usage instead of silently ignoring
    // flags
    case "admit" :: corpusPath :: batchPath :: outDir :: rest
        if parseAdmitFlags(rest).exists(f =>
          (!f.compact || f.sigsDir.isDefined || f.esigsDir.isDefined ||
            f.psigsDir.isDefined) &&
            (f.embPath.isDefined == f.bembPath.isDefined) &&
            (f.esigsDir.isEmpty || f.embPath.isDefined) &&
            (f.pmediaPath.isDefined == f.bmediaPath.isDefined) &&
            (f.psigsDir.isEmpty || f.pmediaPath.isDefined) &&
            (!f.ptrim || f.pmediaPath.isDefined)) =>
      val flags = parseAdmitFlags(rest).get
      import org.apache.spark.sql.{DataFrame, SaveMode}
      import org.apache.spark.sql.functions.{col, count, expr, lit}
      import xscale.{Admission, DedupClusters, PerceptualDedup, Similarity}
      val batch = spark.read.parquet(batchPath)
      // --compact reconciles a state table with the LIVE corpus ids in
      // place: Lake.replace writes the compacted rows in full before the
      // old dir goes, so the plan may read the very dir it replaces
      def reconcile(path: String)(compact: DataFrame => DataFrame): Unit =
        graft.lake.Lake.replace(spark, compact(spark.read.parquet(path)), path)
      def liveVecIds = spark.read.parquet(corpusPath).select(col("doc_id").as("vec_id"))
      val sidecar = flags.sigsDir.filter(d => hfsExists(spark, d))
      // --compact: reconcile the sidecar with the LIVE corpus before
      // classifying — a later re-filter/re-dedup that removed docs leaves
      // stale signatures behind, and stale state POISONS admission
      // (tomorrow's copy of deleted content classifies as a dup of docs
      // the corpus no longer has); retried appends double rows. The
      // corpus contributes only its doc_id column (x74_sigs_compact's
      // oracle pins the membership rule).
      if (flags.compact) sidecar.foreach { d =>
        reconcile(d)(xscale.Dedup.compactSignatures(_, spark.read.parquet(corpusPath).select("doc_id")))
      }
      // bootstrap BEFORE classifying: one corpus text pass writes the
      // sidecar, and classification then reads the parquet back — the
      // alternative (classify off the live frame, write later) re-derives
      // the corpus signatures once per consumer (key projection, band
      // join, bootstrap write = up to three text scans at 100 TB). A
      // crash after this write retries into the sidecar-present branch
      // with identical statuses — the sidecar IS the corpus state.
      // the sidecar is read with the schema it was written with (the batch
      // sigs'), so the read runs no footer-inference job
      def readSidecar(d: String) =
        spark.read.schema(xscale.Dedup.dedupSignatures(batch).schema).parquet(d)
      val corpusSigs = (sidecar, flags.sigsDir) match {
        // sidecar present: the corpus is NOT touched at all (the path may
        // even have been retired — only the state matters)
        case (Some(d), _) => readSidecar(d)
        case (None, Some(d)) =>
          xscale.Dedup.dedupSignatures(spark.read.parquet(corpusPath))
            .write.mode(SaveMode.Overwrite).parquet(d)
          readSidecar(d)
        case _ => xscale.Dedup.dedupSignatures(spark.read.parquet(corpusPath))
      }
      // --emb/--bemb: the EMBEDDING leg (vec_id == doc_id, the corpus
      // verb's convention) — flags still-admitted docs whose vector has a
      // cosine >= tau neighbor in the corpus (x74_admit_emb's rule:
      // quantizer trained on the corpus, batch assigned to frozen cells,
      // within-cell cosine). Catches rewordings the text leg cannot see;
      // docs with no batch vector pass through unflagged. Sampled
      // quantizer training, the corpus --scale convention. --esigs <dir>
      // is the emb twin of --sigs: run 1 bootstraps frozen centroids + the
      // corpus assignment under the dir, later runs classify with ZERO
      // corpus-embedding access (the --emb path may be retired) and the
      // finally-admitted vectors' state rows append after classification.
      // Each leg resolves here to a BUILD the kernel runs later, on its leg
      // thread; the state rewrites and bootstraps stay here, serial, before
      // any leg is built.
      val embBuild = for (ce <- flags.embPath; be <- flags.bembPath) yield {
        val bEmb = spark.read.parquet(be)
        flags.esigsDir match {
          case Some(d) =>
            val bootstrapped = hfsExists(spark, s"$d/centroids") ||
              hfsExists(spark, s"$d/halves")
            // --compact: reconcile the assign table with the LIVE corpus
            // ids before classifying — the emb analog of the sig-sidecar
            // compaction above (stale vectors poison admission the same
            // way: a rewording of deleted content keeps flagging
            // near_dup_corpus_emb); corpus contributes ID PROJECTION
            // only, centroids stay frozen.
            if (flags.compact && bootstrapped)
              reconcile(s"$d/assign")(Similarity.compactEmbAssign(_, liveVecIds))
            // bootstrap flavor auto-chosen by corpus size (flat coarse
            // cells within Similarity.FlatEmbBoundary, IMI product cells
            // past it — the bootstrap that survives 100x); the state
            // layout self-describes, the classifier detects it
            if (!bootstrapped)
              Similarity.admitEmbeddingBootstrapAuto(
                spark.read.parquet(ce), d,
                trainSample = 0.1)
            () => Similarity.admitEmbeddingSigs(spark, d, bEmb)
          case None =>
            () => Similarity.admitEmbeddingFrame(
              spark.read.parquet(ce), bEmb,
              trainSample = 0.1)
        }
      }
      // --pmedia/--bmedia: the PERCEPTUAL leg (x74_admit_img/_aud's rule)
      // — still-admitted docs whose image or audio dHash has a close
      // corpus neighbor OF THE SAME MODALITY flag near_dup_corpus_img/
      // _aud: the re-encoded/re-brightened/re-gained re-posts neither the
      // text nor the embedding signal can see. --psigs <dir> is the media
      // twin of --sigs/--esigs: run 1 hashes the corpus media ONCE into
      // <dir>/bands (modality-detected — mediaHashFrame tries the image
      // decoder, falls back to the RIFF walk) at the WIDTH the corpus
      // count demands (mediaWideFor — BandBoundary as code, the textLegFor
      // pattern) and records that width in <dir>/meta; later runs read the
      // meta, and the kernel hashes every batch AT THE STATE'S WIDTH.
      // Pre-width states (no mod column) keep their original image-only
      // classic-width contract — widening or adding audio to one is a
      // re-bootstrap, the frozen-centroid retrain rule. --compact
      // reconciles the bands state with the live corpus ids like the
      // other two sidecars.
      // Resolved BEFORE the media leg: the shingle-state SPACES govern
      // which containment spaces the batch decodes, compares and appends
      // (the combined one-decode frame must know whether to accumulate
      // the vsp per-frame tile grids at all). A bootstrapped state
      // answers from its meta sidecar (geometry validated — loud failure
      // on mismatch, the band-width rule) or, lacking one, from its
      // layout (pre-mod → vid only; r14 mod-tagged → the triad, no vsp);
      // an unbootstrapped run uses every space (the bootstrap below
      // writes that contract into the new state's meta).
      val trimSpaces: Option[Seq[String]] =
        if (!flags.ptrim) None
        else Some(flags.psigsDir match {
          case Some(d) if hfsExists(spark, s"$d/shingles") =>
            PerceptualDedup.stateShingleSpaces(
              spark, s"$d/shmeta", spark.read.parquet(s"$d/shingles"))
          case _ => PerceptualDedup.AdmitShingleSpaces
        })
      val bMedia = flags.bmediaPath.map(spark.read.parquet(_))
      val mediaBuild = for (cm <- flags.pmediaPath; bm <- bMedia) yield {
        def corpusHash(wide: Boolean) = PerceptualDedup
          .mediaHashFrame(spark.read.parquet(cm), wide).filter(col("decoded"))
          .select(col("doc_id").as("cv_id"), col("mod"), col("bands"))
        def corpusWide() = PerceptualDedup.mediaWideFor(spark.read.parquet(cm).count())
        def build(corpusBands: DataFrame, wide: Boolean) =
          Admission.mediaLeg(corpusBands, wide, bm, trimSpaces)
        flags.psigsDir match {
          case Some(d) =>
            val bandsPath = s"$d/bands"
            val metaPath = s"$d/meta"
            val bootstrapped = hfsExists(spark, bandsPath)
            if (flags.compact && bootstrapped)
              reconcile(bandsPath)(PerceptualDedup.compactMediaBands(_, liveVecIds))
            if (!bootstrapped) {
              val w = corpusWide()
              // meta BEFORE bands: the bootstrap probe is on the bands
              // path, so a crash between the two writes retries into a
              // full re-bootstrap (meta harmlessly overwritten); the
              // reverse order could leave a WIDE bands state that later
              // batches read as classic — silent zero-recall
              PerceptualDedup.writeBandMeta(spark, metaPath, w)
              corpusHash(w).write.mode(SaveMode.Overwrite).parquet(bandsPath)
            }
            () => {
              val st = spark.read.parquet(bandsPath)
              build(st, PerceptualDedup.stateWide(spark, metaPath, st))
            }
          case None =>
            // cut ONCE: admitMediaCompare references the frame twice
            // (candidate + verify sides) — uncut, the full corpus media
            // would be decoded twice per run
            () => {
              val w = corpusWide()
              build(DedupClusters.ckpt(corpusHash(w)), w)
            }
        }
      }
      // --ptrim: the CONTAINMENT leg — the blind spot the band leg leaves
      // open by design, on all FOUR shingle spaces: a re-cut/excerpt of
      // corpus video keeps its frames bit-exact but shifts every hash
      // window (x145's single-alignment convention); a tile-aligned crop
      // of a corpus image keeps its interior tiles bit-exact but shifts
      // every dHash block boundary; a pause-cut audio excerpt keeps its
      // utterances' voiced cores; and a SPATIALLY cropped video
      // re-render keeps every frame's interior tiles while moving every
      // whole-frame moment (x154 — the one mode the other video signal
      // is also blind to). --pmedia admits them all. The
      // x147/x152/x153/x154 rules as admission signals: batch docs'
      // distinct shingles (frame bigrams + per-frame tile neighborhoods
      // for video, tile neighborhoods for img, utterance bigrams for
      // aud; mod keeps the spaces disjoint) vs the corpus shingle state
      // (<psigs>/shingles — corpus media never re-decoded once it
      // exists), >= 0.8 containment per SPACE flags
      // near_dup_corpus_vtrim/_icrop/_atrim/_vcrop; under --strict, a
      // trim/crop/excerpt and its source arriving TOGETHER keep the doc
      // with the MOST fingerprints (the longer clip / larger image is
      // the source), losers labeled by their linking space. The state's
      // spaces + shingle geometry live in <psigs>/shmeta (validated on
      // load — loud failure on mismatch); meta-less states keep their
      // historical contracts by layout (pre-mod → vid-only; r14
      // mod-tagged → the triad: vsp neither compares nor appends —
      // widening is a re-bootstrap, the bands-width rule). The shingle
      // state has no band-width concept, so it composes with both
      // classic and wide band states unchanged; --compact reconciles it
      // (left_semi on live ids + DISTINCT — shingle rows are pure
      // values, exact duplicates are always append replays).
      val trimBuild = for (spaces <- trimSpaces; cm <- flags.pmediaPath; bm <- bMedia) yield {
        // the scan emits exactly the spaces the state records (a new
        // bootstrap: AdmitShingleSpaces incl. the rescale spaces --
        // SCALED img fingerprints under rs<k>, the x156 state role)
        def corpusShingleScan() = PerceptualDedup
          .mediaShingles(spark.read.parquet(cm),
            rscales = PerceptualDedup.rescaleScalesOf(spaces))
          .withColumnRenamed("doc_id", "cv_id")
        val corpusSh = flags.psigsDir match {
          case Some(d) =>
            val shPath = s"$d/shingles"
            val bootstrapped = hfsExists(spark, shPath)
            if (flags.compact && bootstrapped)
              reconcile(shPath)(PerceptualDedup.compactTrimShingles(_, liveVecIds))
            if (!bootstrapped) {
              // meta BEFORE shingles (the band-meta crash rule): the
              // bootstrap probe is on the shingles path, so a crash
              // between the writes retries into a full re-bootstrap;
              // the reverse order could leave a state whose spaces
              // and geometry later batches can only guess
              PerceptualDedup.writeShingleMeta(spark, s"$d/shmeta")
              corpusShingleScan().write.mode(SaveMode.Overwrite).parquet(shPath)
            }
            () => spark.read.parquet(shPath)
          case None =>
            () => DedupClusters.ckpt(corpusShingleScan())
        }
        (media: Option[Admission.MediaLeg]) =>
          Admission.trimLeg(corpusSh(), spaces, bm, media)
      }
      // the batch side of every leg, the status fold and the writes are
      // the admission kernel's (shared with StreamingAdmit)
      val legs = Admission.legs(
        corpusSigs, batch, embBuild, mediaBuild, trimBuild, flags.strict)
      val st = Admission.classify(legs)
      val admittedIds = st.filter(col("status") === "admitted").select("doc_id")
      // the report, the admitted rows and the sidecar updates (ONLY the
      // admitted docs' state), in the kernel's crash order (the bootstrap
      // already wrote the corpus state above, pre-classify). A retry after
      // a crash re-runs the whole admit, and the classification is
      // idempotent against the already-appended state: re-admitted docs
      // classify dup_exact_corpus and append nothing.
      Admission.appendState(admittedIds, legs, flags.sigsDir, flags.esigsDir, flags.psigsDir, Seq(
        () => st.groupBy("status")
          .agg(count(lit(1)).as("n_docs"), expr("bit_xor(key)").as("checksum"))
          .orderBy("status")
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/report"),
        () => batch.join(admittedIds, "doc_id")
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/admitted")))
      val byStatus = spark.read.parquet(s"$outDir/report").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      def n(s: String): Long = byStatus.getOrElse(s, 0L)
      println(
        s"""{"batch":${byStatus.values.sum},"admitted":${n("admitted")},""" +
          s""""dup_exact_corpus":${n("dup_exact_corpus")},""" +
          s""""dup_exact_batch":${n("dup_exact_batch")},""" +
          s""""near_dup_corpus":${n("near_dup_corpus")},""" +
          (if (flags.strict) s""""near_dup_batch":${n("near_dup_batch")},""" else "") +
          (if (flags.embPath.isDefined)
            s""""near_dup_corpus_emb":${n("near_dup_corpus_emb")},"""
          else "") +
          (if (flags.strict && flags.embPath.isDefined)
            s""""near_dup_batch_emb":${n("near_dup_batch_emb")},"""
          else "") +
          (if (flags.pmediaPath.isDefined)
            PerceptualDedup.Modalities
              .map(m => s""""${m.corpusStatus}":${n(m.corpusStatus)},""").mkString
          else "") +
          (if (flags.strict && flags.pmediaPath.isDefined)
            PerceptualDedup.Modalities
              .map(m => s""""${m.strictStatus}":${n(m.strictStatus)},""").mkString
          else "") +
          (if (flags.ptrim)
            PerceptualDedup.ShingleSpaces
              .flatMap(cs =>
                Seq(s""""${cs.corpusStatus}":${n(cs.corpusStatus)},""") ++
                  (if (flags.strict)
                    Seq(s""""${cs.strictStatus}":${n(cs.strictStatus)},""")
                  else Nil))
              .mkString +
            s""""${PerceptualDedup.RcropCorpusStatus}":${
              n(PerceptualDedup.RcropCorpusStatus)},""" +
            (if (flags.strict)
              s""""${PerceptualDedup.RcropStrictStatus}":${
                n(PerceptualDedup.RcropStrictStatus)},"""
            else "")
          else "") +
          s""""corpus_state":${jsonStr(if (sidecar.isDefined) "sidecar" else "scan")},""" +
          s""""out":${jsonStr(outDir)}}""")
      0

    case _ =>
      usage()
      2
  }

  /** Parsed `corpus` flags. `scale` turns on the measured 100 TB dedup
    * recipe (see the corpus case); `embPath` adds the embedding near-dup
    * signal to it.
    */
  private[graft] final case class CorpusFlags(
      strict: Boolean = false,
      despan: Boolean = false,
      dsirLang: Option[String] = None,
      ckptDir: Option[String] = None,
      scale: Boolean = false,
      embPath: Option[String] = None,
      pdedupPath: Option[String] = None,
      pcontainPath: Option[String] = None,
      mqualityPath: Option[String] = None)

  /** Parsed `admit` flags: `--ckpt` = run under that checkpoint dir,
    * i.e. reliable stage-boundary checkpoints (the corpus verb's
    * contract, see [[run]]); `--sigs` = the persisted
    * dedup-state sidecar (see the admit case).
    */
  private[graft] final case class AdmitFlags(
      ckptDir: Option[String] = None,
      sigsDir: Option[String] = None,
      strict: Boolean = false,
      compact: Boolean = false,
      embPath: Option[String] = None,
      bembPath: Option[String] = None,
      esigsDir: Option[String] = None,
      pmediaPath: Option[String] = None,
      ptrim: Boolean = false,
      bmediaPath: Option[String] = None,
      psigsDir: Option[String] = None)

  private def parseAdmitFlags(rest: List[String]): Option[AdmitFlags] = rest match {
    case Nil => Some(AdmitFlags())
    case "--ckpt" :: dir :: tail if !dir.startsWith("--") =>
      parseAdmitFlags(tail).map(_.copy(ckptDir = Some(dir)))
    case "--sigs" :: dir :: tail if !dir.startsWith("--") =>
      parseAdmitFlags(tail).map(_.copy(sigsDir = Some(dir)))
    case "--strict" :: tail =>
      parseAdmitFlags(tail).map(_.copy(strict = true))
    case "--compact" :: tail =>
      parseAdmitFlags(tail).map(_.copy(compact = true))
    case "--emb" :: dir :: tail if !dir.startsWith("--") =>
      parseAdmitFlags(tail).map(_.copy(embPath = Some(dir)))
    case "--bemb" :: dir :: tail if !dir.startsWith("--") =>
      parseAdmitFlags(tail).map(_.copy(bembPath = Some(dir)))
    case "--esigs" :: dir :: tail if !dir.startsWith("--") =>
      parseAdmitFlags(tail).map(_.copy(esigsDir = Some(dir)))
    case "--pmedia" :: dir :: tail if !dir.startsWith("--") =>
      parseAdmitFlags(tail).map(_.copy(pmediaPath = Some(dir)))
    case "--bmedia" :: dir :: tail if !dir.startsWith("--") =>
      parseAdmitFlags(tail).map(_.copy(bmediaPath = Some(dir)))
    case "--psigs" :: dir :: tail if !dir.startsWith("--") =>
      parseAdmitFlags(tail).map(_.copy(psigsDir = Some(dir)))
    case "--ptrim" :: tail =>
      parseAdmitFlags(tail).map(_.copy(ptrim = true))
    case _ => None
  }

  /** corpus flag parser; None on anything unrecognized so the command
    * falls through to usage().
    */
  private def parseCorpusFlags(rest: List[String]): Option[CorpusFlags] = rest match {
    case Nil => Some(CorpusFlags())
    case "--strict" :: tail => parseCorpusFlags(tail).map(_.copy(strict = true))
    case "--despan" :: tail => parseCorpusFlags(tail).map(_.copy(despan = true))
    case "--dsir" :: lang :: tail if !lang.startsWith("--") =>
      parseCorpusFlags(tail).map(_.copy(dsirLang = Some(lang)))
    case "--ckpt" :: dir :: tail if !dir.startsWith("--") =>
      parseCorpusFlags(tail).map(_.copy(ckptDir = Some(dir)))
    case "--scale" :: tail => parseCorpusFlags(tail).map(_.copy(scale = true))
    case "--emb" :: path :: tail if !path.startsWith("--") =>
      parseCorpusFlags(tail).map(_.copy(embPath = Some(path)))
    case "--pdedup" :: path :: tail if !path.startsWith("--") =>
      parseCorpusFlags(tail).map(_.copy(pdedupPath = Some(path)))
    case "--pcontain" :: path :: tail if !path.startsWith("--") =>
      parseCorpusFlags(tail).map(_.copy(pcontainPath = Some(path)))
    case "--mquality" :: path :: tail if !path.startsWith("--") =>
      parseCorpusFlags(tail).map(_.copy(mqualityPath = Some(path)))
    case _ => None
  }

  private def usage(): Unit =
    System.err.println(
      "usage: graft.Cli ingest [<unprocessedDir> <lakePath> <syncLogPath> [processedDir]]\n" +
        "       graft.Cli query <name> <sfDir> [numRows]\n" +
        "       graft.Cli generate-synthetic-data <rows> <target> [--persist]\n" +
        "       graft.Cli corpus <documentsParquet> <outDir> [--strict] [--despan] [--dsir <lang>] [--ckpt <dir>]\n" +
        "                 [--scale] [--emb <embeddingsParquet>] [--pdedup <mediaParquet>]\n" +
        "                 [--pcontain <mediaParquet>] [--mquality <mediaParquet>]\n" +
        "                 (--scale = the measured 100 TB dedup recipe:\n" +
        "                 cascade exact-first -> near-dup CC (joint IMI with --emb; text leg auto-chosen by\n" +
        "                 survivor count: simhash <= 1e5 docs, minhash past it) -> capped x122/x121 audits\n" +
        "                 written under <outDir>/_audits;\n" +
        "                 --pdedup = the PERCEPTUAL dedup stage over (doc_id, payload) media parquet —\n" +
        "                 modality-detected image/audio/video dHash pairs -> CC -> keep-BEST, after text dedup and\n" +
        "                 before span removal; hash width auto-picks wide past ~1e6 media docs;\n" +
        "                 --pcontain = the CONTAINMENT dedup stage over the same media shape — drop docs\n" +
        "                 whose media is a trimmed/cropped/excerpted re-post of a surviving doc's media\n" +
        "                 (x147/x152/x153's rules: per-modality LSH-candidate containment pairs -> CC ->\n" +
        "                 keep-most-shingles; runs after --pdedup, shares its decode when the paths match);\n" +
        "                 --mquality = the multimodal quality GATE over the same media shape — drop docs\n" +
        "                 whose media fails its modality's rule: image >95% crushed/blown, audio >90%\n" +
        "                 silent or >10% rail-clipped, video >50% black or >90% frozen; undecodable and\n" +
        "                 media-less docs always pass; runs with the text quality rules before dedup)\n" +
        "       graft.Cli report <sfDir> <outDir>   (release-audit battery -> parquet per audit + stats line)\n" +
        "       graft.Cli admit <corpusParquet> <batchParquet> <outDir> [--ckpt <dir>] [--sigs <dir>]\n" +
        "                 [--strict] [--compact] [--emb <corpusEmb> --bemb <batchEmb> [--esigs <dir>]]\n" +
        "                 [--pmedia <corpusMedia> --bmedia <batchMedia> [--psigs <dir>] [--ptrim]]\n" +
        "                 (--strict also near-dedups WITHIN the admitted set — near-dup pairs arriving\n" +
        "                 together in one batch keep one survivor, losers report as near_dup_batch;\n" +
        "                 with --emb it ALSO runs the emb analog over the finally-admitted vectors —\n" +
        "                 two rewordings arriving together keep one survivor, losers near_dup_batch_emb;\n" +
        "                 --compact first reconciles the --sigs sidecar (and the --esigs assign table)\n" +
        "                 with the live corpus ids — drops states of since-removed docs, collapses\n" +
        "                 retried double-appends; centroids stay frozen;\n" +
        "                 --emb/--bemb add the EMBEDDING leg — still-admitted docs whose vector has a\n" +
        "                 cosine>=tau corpus neighbor within its frozen cell flag near_dup_corpus_emb;\n" +
        "                 --esigs persists that leg's frozen state (centroids + corpus assignment) so\n" +
        "                 later runs never read the corpus embeddings — the emb twin of --sigs;\n" +
        "                 --pmedia/--bmedia add the PERCEPTUAL leg over (doc_id, payload) media parquet —\n" +
        "                 payloads are MODALITY-DETECTED (image decode first, RIFF/WAV fall-back) and\n" +
        "                 still-admitted docs whose dHash has a close corpus neighbor of the SAME modality\n" +
        "                 flag near_dup_corpus_img / near_dup_corpus_aud (re-encoded/re-brightened/\n" +
        "                 re-gained re-posts text and embeddings miss); with --strict, re-encode pairs\n" +
        "                 arriving together keep one survivor (near_dup_batch_img/_aud); --psigs persists\n" +
        "                 the corpus bands so later runs never re-decode the corpus media — the media twin\n" +
        "                 of --sigs; its meta records the band WIDTH (wide 256-bit hashes past ~1e6 media\n" +
        "                 docs, auto-chosen at bootstrap) and later batches hash at the state's width;\n" +
        "                 --ptrim adds the CONTAINMENT leg over the same media flags: batch videos whose\n" +
        "                 frame-bigram shingles — and batch images whose diagonal tile-neighborhood\n" +
        "                 shingles — are >=80% contained in a corpus doc of the same shingle space flag\n" +
        "                 near_dup_corpus_vtrim/_icrop (the re-cut/excerpt or tile-aligned crop the band\n" +
        "                 leg admits by design; with --strict a trim/crop and its source arriving together\n" +
        "                 keep the doc with the MOST shingles, losers near_dup_batch_vtrim/_icrop); the\n" +
        "                 mod-tagged shingle state persists under <psigs>/shingles (a pre-mod state keeps\n" +
        "                 its video-only contract); --compact reconciles it)\n" +
        "                 (daily-ingest admission: classify a batch against the corpus without re-shuffling\n" +
        "                 it — x74's rule; writes <outDir>/admitted + <outDir>/report + stats line; --sigs\n" +
        "                 persists the corpus dedup state so later runs never re-read the corpus text)\n" +
        "       --ckpt <dir> (corpus, admit) runs the verb under that Spark checkpoint dir: every\n" +
        "                 stage-boundary cut is a reliable (storage-backed) checkpoint instead of an\n" +
        "                 executor-local one; a context that already has a dir keeps it\n" +
        "env:   CSV_DIR UNPROCESSED_DIR PROCESSED_DIR MOVE_PROCESSED_FILES\n" +
        "       LAKE_PATH SYNC_LOG_PATH QUARANTINE_PATH (no-arg ingest)")

  /** Stats JSON report, same shape AND key spelling as the reference's
    * (datalake/stats.go:9-14 json tags, logged at stats.go:35-44).
    */
  private def printStats(stats: graft.model.IngestStats): Unit = {
    val failures = stats.failures.toSeq.sortBy(_._1)
      .map { case (f, r) => s"${jsonStr(f)}: ${jsonStr(r)}" }
      .mkString("{", ",", "}")
    println(
      s"""{"totalFiles":${stats.total_files},"processedFiles":${stats.processed_files},""" +
        s""""failedFiles":${stats.failed_files},"failures":$failures}""")
  }
}
