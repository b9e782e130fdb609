package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.SparkEntry
import graft.ops.{Ndv, Quantiles}

/** Measures the scale-mode switch: every query in the NDV family
  * (`graft.ndv.mode`) and the quantile-broadcast family
  * (`graft.quantiles.mode`) runs in `exact` then `approx` mode on the same
  * data, recording wall seconds and total shuffle-write bytes per run.
  *
  * The shuffle column is the point: exact `count(DISTINCT)` shuffles the
  * distinct keys themselves (EXPAND + exchange) and exact `percentile`
  * buffers every group value through the exchange, while the sketch modes
  * ship constant-size partials — so the bytes delta, not the local wall
  * clock, is what predicts the 100 TB behavior (network is the scarce
  * resource on a real cluster; local[32] hides it).
  *
  * Each (mode, query) runs twice through the `noop` sink (same
  * materialization discipline as [[graft.Bench]]); wall time reports the
  * min of the two (page-cache/JIT noise), shuffle bytes the second run
  * (deterministic once AQE has seen the stats). Output: one JSON line +
  * `target/modebench.json` (or argv(1) — deliberately NOT the committed
  * `modebench.json`, so exploratory runs can't silently clobber the
  * record; committing a new record is an explicit copy).
  */
object ModeBench {

  /** Queries whose plans change under the two mode keys. */
  // q168 is deliberately absent: its many-groups × tiny-NDV aggregation
  // inverts the HLL trade (measured 17× slower, more shuffle — see the
  // repeatedSpans scaladoc); the switch covers few-groups × huge-NDV aggs.
  val NdvFamily = Seq(
    "q36_distinct_agg", "q76_profile", "q112_dup_rate_by_form",
    "q114_join_cardinality")
  val QuantileFamily = Seq(
    "q86_winsorize", "q88_equidepth_hist", "q105_adaptive_quality",
    "q119_mad_outliers", "q149_dataset_card", "q162_conversion_latency")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/localdata/sf1")
    val spark = graft.functions.chess.session("graft-modebench",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    spark.sparkContext.setLogLevel("WARN")

    val shuffleBytes = new AtomicLong(0L)
    // longest single task since the last reset — the straggler signal the
    // key_skew sweep reads (a skew mitigation that moves total work but
    // not the max task has not mitigated anything)
    val maxTaskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          maxTaskMs.getAndUpdate(cur => math.max(cur, m.executorRunTime))
        }
      }
    })
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    // listener events are async (no public drain API): wait until no job
    // is active AND the counter has been stable for a full second — a
    // stable counter alone can declare victory during a listener-bus
    // stall (GC pauses on this box reach seconds) and misattribute a
    // query's late task events to the NEXT query's byte count
    def quiesce(): Unit = {
      val tracker = spark.sparkContext.statusTracker
      var prev = -1L; var same = 0; var iters = 0
      while (same < 10 && iters < 300) {
        Thread.sleep(100)
        val cur = shuffleBytes.get()
        val idle = tracker.getActiveJobIds().isEmpty
        if (idle && cur == prev) same += 1 else { same = 0; prev = cur }
        iters += 1
      }
    }
    // ONE measurement harness for both named gate queries and ad-hoc
    // frames (the skew sweep): a timing-protocol change must apply to
    // every sweep identically or they stop being comparable
    def runDf(mk: () => org.apache.spark.sql.DataFrame): (Double, Long) = {
      def once(): (Double, Long) = {
        quiesce()
        shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        quiesce()
        (dt, shuffleBytes.get())
      }
      val (t1, _) = once()
      val (t2, b2) = once()
      (math.min(t1, t2), b2)
    }
    def run(name: String): (Double, Long) =
      runDf(() => SparkEntry.queries(name)(spark, sfDir))

    val fams = Seq("ndv" -> NdvFamily, "quantiles" -> QuantileFamily)
    val results = Seq("exact", "approx").map { mode =>
      spark.conf.set(Ndv.ModeKey, mode)
      spark.conf.set(Quantiles.ModeKey, mode)
      spark.catalog.clearCache()
      mode -> fams.map { case (fam, qs) => fam -> qs.map(q => q -> run(q)) }
    }

    // q125 band-arity sweep: pairs/triples/quadruples on the same data.
    // The candidate count is the leading indicator (it is what grows
    // superlinearly when a band geometry saturates); wall + shuffle are
    // the same columns as the mode families above.
    import graft.ops.MultimodalOps
    val phash = Seq(2, 3, 4).map { arity =>
      spark.conf.set(MultimodalOps.PhashArityKey, arity.toString)
      spark.catalog.clearCache()
      val (t, b) = run("q125_phash_pairs")
      val cands = MultimodalOps.phashCandidateCount(spark, sfDir)
      (arity, t, b, cands)
    }
    spark.conf.unset(MultimodalOps.PhashArityKey)

    def sec(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def mb(b: Long) = "%.1f".formatLocal(java.util.Locale.ROOT, b / 1048576.0)
    val perQuery = results.map { case (mode, byFam) =>
      val qs = byFam.flatMap(_._2).map { case (q, (t, b)) =>
        s""""$q":{"sec":${sec(t)},"shuffle_mb":${mb(b)}}"""
      }.mkString(",")
      s""""$mode":{$qs}"""
    }.mkString(",")
    val famTotals = fams.map { case (fam, _) =>
      val t = results.map { case (mode, byFam) =>
        val rs = byFam.collect { case (f, qs) if f == fam => qs }.flatten
        s""""$mode":{"sec":${sec(rs.map(_._2._1).sum)},"shuffle_mb":${mb(rs.map(_._2._2).sum)}}"""
      }.mkString(",")
      s""""$fam":{$t}"""
    }.mkString(",")
    val phashJson = phash.map { case (arity, t, b, cands) =>
      s""""arity$arity":{"sec":${sec(t)},"shuffle_mb":${mb(b)},""" +
        s""""candidates":$cands,"guaranteed_hamming":${
          graft.ops.MultimodalOps.phashGuaranteedHamming(arity)}}"""
    }.mkString(",")

    // q115 K sweep: the SemDeDup data knob (K ∝ N) as a measured conf —
    // candidate volume per K is the saturation indicator, same columns as
    // the phash arity sweep (the r6 sf2.5 refresh measured 4.0× growth at
    // the fixed gate K; this records what each K step buys back)
    import graft.ops.Similarity
    val semdedup = Seq(8, 32, 128).map { k =>
      spark.conf.set(Similarity.SemClustersKey, k.toString)
      spark.catalog.clearCache()
      val (t, b) = run("q115_semantic_dedup")
      val cands = Similarity.semanticCandidateCount(spark, sfDir)
      (k, t, b, cands)
    }
    spark.conf.unset(Similarity.SemClustersKey)
    val semJson = semdedup.map { case (k, t, b, cands) =>
      s""""k$k":{"sec":${sec(t)},"shuffle_mb":${mb(b)},"candidates":$cands}"""
    }.mkString(",")

    // q177 CMS width sweep: the sizing rule (w ≈ e/ε for target error ε·N)
    // as measured rows — per width: heavy-key count, worst and mean
    // overestimate, and the relative error Σover/Σexact. Wall is omitted
    // (the plan is identical at every width; only the grid memory and the
    // collision rate move). The sweep runs on the BASE corpus, not the
    // ScaleData replica set: the ×N decorrelation rotates the alphabet per
    // replica, which multiplies the vocabulary and pushes every term under
    // the relative φ cut (measured: 0 heavy keys at sf1) — a vocabulary
    // stress, not a collision measurement.
    import graft.ops.SketchOps
    import org.apache.spark.sql.functions.{col, sum => fsum, max => fmax}
    val cmsDir = sys.env.getOrElse("SPARK_GRAFT_CMS_DIR", "/root/testdata/sf0.1")
    val cms = Seq(16, 64, 256).map { w =>
      val r = SketchOps.cmsAudit(spark, cmsDir, w)
        .agg(org.apache.spark.sql.functions.count(col("term")).as("keys"),
          fmax(col("n_over")).as("max_over"),
          fsum(col("n_over")).as("so"), fsum(col("n_exact")).as("se"))
        .collect()(0)
      val se = r.getAs[Long]("se")
      (w, r.getAs[Long]("keys"), r.getAs[Long]("max_over"),
        if (se == 0L) 0.0 else r.getAs[Long]("so").toDouble / se)
    }
    val cmsJson = cms.map { case (w, keys, maxOver, relErr) =>
      s""""w$w":{"heavy_keys":$keys,"max_over":$maxOver,"rel_err":${sec(relErr)}}"""
    }.mkString(",")

    // q183 cell-bit sweep: finer cells localize the probe tighter (fewer
    // rows scanned under BOTH layouts) at linearly more manifest rows —
    // this records what each granularity step buys, and whether the
    // z-over-linear advantage survives at every granularity. Wall is
    // omitted (the audit plan is identical at every width; the scanned
    // row count is the quantity the audit exists to estimate).
    import graft.ops.LakehouseOps
    val layout = Seq(4, 8, 12).map { bits =>
      val rows = LakehouseOps.layoutAuditAt(spark, cmsDir, bits)
        .groupBy(col("layout"))
        .agg(fsum(col("rows_scanned")).as("scanned"),
          org.apache.spark.sql.functions.count(col("cell")).as("cells"))
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("scanned"), r.getAs[Long]("cells"))).toMap
      (bits, rows("zorder"), rows("linear"))
    }
    val layoutJson = layout.map { case (bits, (zs, zc), (ls, lc)) =>
      s""""bits$bits":{"z_scanned":$zs,"z_cells":$zc,""" +
        s""""linear_scanned":$ls,"linear_cells":$lc}"""
    }.mkString(",")

    // q195/q200 sketch-geometry sweeps: winnow window w (postings volume
    // vs the k+w−1 detection floor) and CDC modulus m (index size vs dedup
    // grain). The count columns are the scale indicators — the postings
    // stream is what the pair join pays for, the chunk count is what the
    // index shuffles.
    import graft.ops.Dedup
    val winnow = Seq(2, 4, 8).map { w =>
      val (postings, pairs) = Dedup.winnowSweepStats(spark, cmsDir, w)
      (w, postings, pairs)
    }
    val winnowJson = winnow.map { case (w, postings, pairs) =>
      s""""w$w":{"postings":$postings,"pairs":$pairs,""" +
        s""""detect_floor_tokens":${Dedup.WinnowK + w - 1}}"""
    }.mkString(",")
    val cdc = Seq(8, 16, 32).map { m =>
      val (total, repeated) = Dedup.cdcSweepStats(spark, cmsDir, m)
      (m, total, repeated)
    }
    val cdcJson = cdc.map { case (m, total, repeated) =>
      s""""m$m":{"chunks":$total,"repeated":$repeated}"""
    }.mkString(",")

    // q212/q213/q218 strategy sweep: the same per-source top-K admission
    // computed by the window, grid, and bounded-heap forms (gate-proven
    // row-identical under one oracle) — wall + shuffle per form on the
    // same corpus. The shuffle column is the 100 TB signal: the window
    // form exchanges every row to sort whole sources, the grid form
    // exchanges cell aggregates plus the top-K-intersecting cells, the
    // heap form's partial aggregation bounds the exchange at k rows per
    // (source, partial).
    val quotaForms = Seq(
      "window" -> "q212_source_quota",
      "grid" -> "q213_ranged_source_quota",
      "heap" -> "q218_heap_source_quota")
    val quotaJson = quotaForms.map { case (form, q) =>
      val (t, b) = run(q)
      s""""$form":{"sec":${sec(t)},"shuffle_mb":${mb(b)}}"""
    }.mkString(",")

    // quota SKEW demonstration: the gate corpus has uniform sources, so
    // the sweep above shows the window form cheapest — this one shows
    // WHY the recoveries exist. A synthetic 5M-row frame gives one
    // source 80% of all rows (the mega-source case): the window form
    // must sort those 4M rows in ONE task, the grid form reduces them
    // to ≤10⁴ quality cells before any per-row window, the heap keeps
    // k rows per partial. Quality lives on a 1e-4 grid (the r4
    // contract), ~400 tie rows per (mega, cell).
    import graft.ops.{PackingOps, ScaleOps}
    def skewed = PackingOps.skewedScoredFrame(spark, 5000000L)
    val skewForms = Seq(
      "window" -> (() => PackingOps.sourceQuotaDf(skewed)),
      "grid" -> (() => PackingOps.rangedSourceQuotaDf(skewed)),
      "heap" -> (() => ScaleOps.topKPerGroup(skewed,
        "source", "quality", "doc_id", PackingOps.QuotaK)))
    val skewJson = skewForms.map { case (form, mk) =>
      val (t, b) = runDf(mk)
      s""""$form":{"sec":${sec(t)},"shuffle_mb":${mb(b)}}"""
    }.mkString(",")

    // KEY-skew demonstration (r9): one 80%-hot key flowing through the
    // plain vs the salted paths (the q41/q67 kernels), AQE on throughout.
    // Columns: wall, shuffle, and max single-task ms — the straggler
    // signal; a mitigation that leaves the max task untouched has not
    // mitigated anything. The expected (and honest) shape:
    //  - count/sum aggregation: plain ≈ salted. Partial aggregation
    //    (map-side combine) already collapses the hot key to one row per
    //    map task, so the reducer never sees the skew — the q67 salted
    //    form exists for the agg states partial-agg can NOT collapse
    //    (collect/distinct-style), and this row documents where the
    //    plain path is already safe.
    //  - sort-merge join: the hot key's 8M probe rows land in ONE
    //    reducer unless AQE's skew-join splits it; the _noskew row is
    //    the counterfactual (OptimizeSkewedJoin disabled) whose max-task
    //    column shows the straggler AQE removes. The skew thresholds are
    //    scaled to the local corpus (16 MB skew threshold / 8 MB
    //    advisory vs the 256 MB / 64 MB defaults): at 10M rows the hot
    //    partition is ~40 MB of compressed shuffle — below the default
    //    threshold, the exact regime where a 100 TB partition (GBs)
    //    would be above it. Same mechanism, scaled trigger.
    //  - salted broadcast join (q41): no fact shuffle at all — the
    //    100 TB shape when the dim side fits the broadcast budget.
    import org.apache.spark.sql.functions.{when => fwhen, pmod => fpmod,
      hash => fhash, lit => flit, concat => fconcat, count => fcount,
      sum => fsum2, col => fcol}
    val hotN = 10000000L
    def skewFact = spark.range(hotN).select(
      fwhen(fcol("id") % 5 < 4, 0L)
        .otherwise(fpmod(fhash(fcol("id")), flit(100000)).cast("long")).as("k"),
      (fcol("id") % 1000).as("v"),
      // incompressible payload: a constant-prefix pad compresses to
      // nothing in the shuffle and hides the skew from byte-based
      // thresholds — md5 keeps shuffled bytes proportional to rows
      org.apache.spark.sql.functions.md5(fcol("id").cast("string")).as("pad"))
    def skewDim = spark.range(100000).select(
      fcol("id").as("dk"), fpmod(fhash(fcol("id")), flit(97)).as("attr"))
    def mergeJoin = skewFact.join(skewDim.hint("merge"), fcol("k") === fcol("dk"))
      .groupBy(fcol("attr")).agg(fcount(flit(1)).as("n"), fsum2(fcol("v")).as("s"))
    // PER-ROW CONF ISOLATION (r9 advice): each row declares exactly the
    // AQE confs it is measured under; runSkew sets them before and
    // restores the session defaults after, so no row inherits a
    // neighbor's coalescing/skew regime, and the committed JSON carries
    // each row's non-default confs next to its numbers.
    val skewThreshKey = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val skewOnKey = "spark.sql.adaptive.skewJoin.enabled"
    // the scaled-trigger regime both merge-join rows share (identical
    // except the skew-join switch — the clean counterfactual pair)
    val scaledSkewConfs = Seq(skewThreshKey -> "16m", advisoryKey -> "8m",
      skewOnKey -> "true")
    def runSkew(confs: Seq[(String, String)],
        mk: () => org.apache.spark.sql.DataFrame): (Double, Long, Long) = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      maxTaskMs.set(0L)
      val (t, b) = runDf(mk)
      spark.conf.unset(skewThreshKey)
      spark.conf.unset(advisoryKey)
      spark.conf.set(skewOnKey, "true")
      (t, b, maxTaskMs.get())
    }
    val keySkew = Seq(
      ("agg_plain", Seq.empty[(String, String)], () => skewFact.groupBy(fcol("k"))
        .agg(fcount(flit(1)).as("n"), fsum2(fcol("v")).as("total"))),
      ("agg_salted", Seq.empty[(String, String)], () => ScaleOps.saltedAgg(
        skewFact.select(fcol("k"), fcol("v"), fcol("pad")), "k", "v", 16)),
      ("join_merge", scaledSkewConfs, () => mergeJoin),
      ("join_merge_noskew", scaledSkewConfs.init :+ (skewOnKey -> "false"),
        () => mergeJoin),
      ("join_salted_bcast", Seq.empty[(String, String)], () =>
        ScaleOps.saltedBroadcastJoin(skewFact, skewDim, "k", "dk", 16)
          .groupBy(fcol("attr")).agg(fcount(flit(1)).as("n"), fsum2(fcol("v")).as("s")))
    ).map { case (form, confs, mk) =>
      val (t, b, mt) = runSkew(confs, mk)
      val confJson = confs.map { case (k, v) =>
        s""""${k.stripPrefix("spark.sql.adaptive.")}":"$v"""" }
        .mkString("{", ",", "}")
      s""""$form":{"sec":${sec(t)},"shuffle_mb":${mb(b)},"max_task_ms":$mt,"confs":$confJson}"""
    }.mkString(",")

    // q234 min-freq sweep: what each cutoff step costs — corpus coverage
    // and the WORST per-language fertility (the fairness casualty of a
    // global cutoff). Counts, not wall: the plan is identical per cutoff.
    // Cutoffs sized to the sf0.1 frequency spectrum (min 255 / median
    // ~9000 / max 9182): tail-only, half-vocab, and everything.
    import graft.ops.TextOps
    import org.apache.spark.sql.functions.{min => fmin}
    val vocabPrune = Seq(300L, 9000L, 10000L).map { f =>
      val r = TextOps.vocabPruneAt(spark, cmsDir, f)
        .agg(fsum(col("n_words")).as("nw"), fsum(col("n_kept")).as("nk"),
          fmax(col("fertility")).as("worst_fert"),
          fmin(col("coverage")).as("worst_cov"))
        .collect()(0)
      (f, r.getAs[Long]("nw"), r.getAs[Long]("nk"),
        r.getAs[Double]("worst_cov"), r.getAs[Double]("worst_fert"))
    }
    val vocabJson = vocabPrune.map { case (f, nw, nk, cov, fert) =>
      s""""f$f":{"coverage":${sec(nk.toDouble / nw)},""" +
        s""""worst_lang_coverage":${sec(cov)},"worst_lang_fertility":${sec(fert)}}"""
    }.mkString(",")

    // q230 band-width sweep: the suppress-or-coarsen trade — per released
    // band width, how many cells exist and what share clears the SNR bar
    // (coarser bands ⇒ fewer, larger, more publishable cells).
    import graft.ops.ExtraOps
    val dp = Seq(16L, 64L, 256L).map { band =>
      val r = ExtraOps.dpHistogramAt(spark, cmsDir, band)
        .agg(org.apache.spark.sql.functions.count(col("lang")).as("cells"),
          fsum(col("publishable")).as("pub"))
        .collect()(0)
      (band, r.getAs[Long]("cells"), r.getAs[Long]("pub"))
    }
    val dpJson = dp.map { case (band, cells, pub) =>
      s""""band$band":{"cells":$cells,"publishable":$pub}"""
    }.mkString(",")

    // q228 η sweep: how fast the DoReMi mixture sharpens — max boost and
    // the max weight per step size (η→0 is the baseline mixture; the
    // weights frame is |sources| rows, so the sweep is three scans).
    import graft.ops.SamplingOps
    val doremi = Seq(0.5, 1.0, 2.0).map { eta =>
      val r = SamplingOps.doremiWeightsAt(spark, cmsDir, eta)
        .agg(fmax(col("boost")).as("mb"), fmax(col("weight")).as("mw"))
        .collect()(0)
      (eta, r.getAs[Double]("mb"), r.getAs[Double]("mw"))
    }
    val doremiJson = doremi.map { case (eta, mb2, mw) =>
      s""""eta$eta":{"max_boost":${sec(mb2)},"max_weight":${sec(mw)}}"""
    }.mkString(",")

    val json =
      s"""{"metric":"modebench","sf":"$sfDir","families":{$famTotals},""" +
        s""""phash_bands":{$phashJson},"semdedup_k":{$semJson},"cms_width":{$cmsJson},""" +
        s""""layout_cells":{$layoutJson},"winnow_w":{$winnowJson},""" +
        s""""cdc_mod":{$cdcJson},"quota_strategy":{$quotaJson},""" +
        s""""quota_skew":{$skewJson},"key_skew":{$keySkew},""" +
        s""""vocab_prune_minfreq":{$vocabJson},""" +
        s""""dp_band":{$dpJson},"doremi_eta":{$doremiJson},""" +
        s""""queries":{$perQuery}}"""
    val outPath = args.drop(1).headOption.getOrElse("target/modebench.json")
    try {
      val w = new java.io.PrintWriter(outPath)
      try w.println(json) finally w.close()
    } catch { case e: Exception => System.err.println(s"[modebench] dump failed: $e") }
    println(json)
    spark.stop()
  }
}
