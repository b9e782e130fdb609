package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Physical-plan audit — enforces the scale properties the operators claim
  * (SURVEY.md "optimize for scale"): filters and projections reach the
  * parquet scan, small sides broadcast, aggregations have map-side partial
  * phases, and no operator degenerates into a cartesian product.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: predicate pushdown + column pruning reach the parquet scan") {
    val plan = planOf(RelationalOps.filterProject(spark, sf))
    assert(plan.contains("PushedFilters: ["), "no pushed filters")
    assert(plan.contains("IsNotNull(l_shipdate)") || plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$plan")
    // pruned scan: none of the unused wide columns appear in ReadSchema
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_comment"), "scan reads unused columns")
  }

  test("q04: dimension joins broadcast (no fact-side shuffle)") {
    val plan = planOf(RelationalOps.starJoin(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "dimension join fell back to SMJ")
  }

  test("q01: aggregation is two-phase (map-side partial)") {
    val plan = planOf(RelationalOps.pricingSummary(spark, sf))
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final HashAggregate:\n$plan")
  }

  test("q06: argmax via max(struct) aggregates, no window shuffle-sort") {
    val plan = planOf(RelationalOps.argmaxPerCustomer(spark, sf))
    assert(!plan.contains("Window"), "argmax should not use a window")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"))
  }

  test("dedup/similarity candidate joins are equi-joins, never cartesian") {
    Seq(
      Dedup.ngramJaccard(spark, sf),
      Dedup.minhashLsh(spark, sf),
      Dedup.simhashPairs(spark, sf),
      Similarity.annLsh(spark, sf),
      Similarity.cosineNearDup(spark, sf)
    ).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian product found:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join found (non-equi candidate join):\n$plan")
    }
  }

  test("range/as-of joins stay equi-join shaped (no nested-loop fallback)") {
    Seq(
      AdvancedOps.rangeJoin(spark, sf),
      AdvancedOps.asofJoin(spark, sf),
      AdvancedOps.annMultiProbe(spark, sf)
    ).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian product found:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join found — the bucket/merge rewrite regressed:\n$plan")
    }
  }

  test("tfidf: df dimension and N broadcast; merge upsert joins are equi-joins") {
    val plan = planOf(AdvancedOps.tfidf(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast df join:\n$plan")
    val mergePlan = planOf(AdvancedOps.mergeUpsertOrders(spark, sf))
    assert(!mergePlan.contains("CartesianProduct") &&
      !mergePlan.contains("BroadcastNestedLoopJoin"),
      s"merge branches must be equi-joins:\n$mergePlan")
  }

  test("CDC and incremental-maintenance joins stay equi-join shaped") {
    Seq(
      AdvancedOps.snapshotDiffOrders(spark, sf),
      AdvancedOps.incrementalAgg(spark, sf)
    ).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian found:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join found:\n$plan")
    }
  }

  test("q61 bloom probe is a native expression inside whole-stage codegen") {
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val hot = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_totalprice") > 400000.0)
    val df = ScaleOps.bloomPrefilteredJoin(li, hot, "l_orderkey", "o_orderkey", 10000L)
    df.collect() // AQE: codegen stages appear in the final executed plan
    val plan = planOf(df)
    val probeLines = plan.linesIterator.filter(_.contains("bloom_might_contain")).toSeq
    assert(probeLines.nonEmpty, s"no native bloom probe in plan:\n$plan")
    // the Filter carrying the probe must sit inside a WholeStageCodegen span
    // (node line prefixed "*(n)") — the Scala-udf form it replaced broke the
    // span with a BatchEvalPython/Invoke-style interpreted node
    assert(probeLines.exists(_.matches(""".*\*\(\d+\) Filter .*""")),
      s"bloom probe not codegen'd:\n${probeLines.mkString("\n")}")
  }

  test("q168/q169: span kernel codegen'd; passage probe is a semi-join, islands window per-doc") {
    val df = Dedup.repeatedSpans(spark, sf)
    df.collect()
    val plan = planOf(df)
    val kernel = plan.linesIterator.filter(_.contains("span_hashes")).toSeq
    assert(kernel.nonEmpty, s"no native span kernel in plan:\n$plan")
    assert(kernel.exists(_.matches(""".*\*\(\d+\) .*""")),
      s"span kernel not inside a codegen span:\n${kernel.mkString("\n")}")
    assert(!plan.contains("Window"), s"q168 must not plan a window:\n$plan")
    val p9 = Dedup.repeatedPassages(spark, sf)
    p9.collect()
    val plan9 = planOf(p9)
    assert(plan9.contains("LeftSemi"), s"passage probe must be a semi-join:\n$plan9")
    assert(!plan9.contains("CartesianProduct") && !plan9.contains("NestedLoop"),
      s"passage probe degenerated:\n$plan9")
  }

  test("whole-stage codegen covers scalar-function pipelines") {
    // note: higher-order-function projects (TextOps/Dedup lambdas) are
    // interpreted by design in Spark (CodegenFallback) — scalar pipelines
    // must stay inside codegen
    val df = RelationalOps.scalarFunctions(spark, sf)
    df.collect() // AQE: codegen stages appear in the final executed plan
    val plan = planOf(df)
    assert(plan.contains("*(1)"), s"no codegen spans:\n$plan")
  }

  test("q81/q84: eval-shingle set and mix rates broadcast onto the fact scan") {
    Seq(Dedup.contamination(spark, sf), SamplingOps.temperatureMix(spark, sf))
      .foreach { df =>
        val plan = planOf(df)
        assert(plan.contains("BroadcastHashJoin"), s"expected broadcast:\n$plan")
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$plan")
      }
  }

  test("q82: repetition metrics are a single narrow map (no shuffle)") {
    val plan = planOf(TextOps.repetition(spark, sf))
    assert(!plan.contains("Exchange"), s"repetition must not shuffle:\n$plan")
  }

  test("q88/q89: decile cuts broadcast; OLS is one two-phase aggregation") {
    val hist = planOf(ExtraOps.equiDepthHistogram(spark, sf))
    assert(hist.contains("BroadcastNestedLoopJoin") || hist.contains("BroadcastExchange"),
      s"cut points must broadcast (1-row dimension):\n$hist")
    assert(!hist.contains("Window") && !hist.contains("rangepartitioning"),
      s"equi-depth must not plan a global sorted window:\n$hist")
    val ols = planOf(ExtraOps.groupOls(spark, sf))
    assert("HashAggregate".r.findAllIn(ols).length >= 2,
      s"expected partial+final aggregation:\n$ols")
    assert(!ols.contains("Window"), "OLS must be aggregation-only")
  }

  test("q96: FK audit probes stay equi-join shaped (left join + null probe)") {
    val plan = planOf(ExtraOps.fkAudit(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"non-equi join in FK audit:\n$plan")
    assert(plan.contains("LeftOuter"), s"expected left-outer probes:\n$plan")
  }

  test("q98/q99: one user-partitioned window sort each, no global sort") {
    Seq(EventOps.twap(spark, sf), EventOps.attribution(spark, sf)).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("rangepartitioning"), s"global sort:\n$plan")
      assert(plan.contains("Window"), s"expected window:\n$plan")
    }
  }

  test("q101/q102: vocab sides broadcast; token stream aggregates without joins") {
    val bpe = planOf(TextOps.bpePairs(spark, sf))
    assert(!bpe.contains("Join"), s"q101 must be aggregation-only:\n$bpe")
    assert("HashAggregate".r.findAllIn(bpe).length >= 2,
      s"q101 expects partial+final aggregation:\n$bpe")
    val pmi = planOf(TextOps.pmiCollocations(spark, sf))
    assert(pmi.contains("BroadcastHashJoin"),
      s"q102 vocab joins must broadcast:\n$pmi")
    assert(!pmi.contains("SortMergeJoin") && !pmi.contains("CartesianProduct"),
      s"q102 must not shuffle-join the token stream:\n$pmi")
  }

  test("q83: packing window is partitioned (one shuffle, no global sort)") {
    val plan = planOf(SamplingOps.packSequences(spark, sf))
    // partitioned window ⇒ hashpartitioning exchange, never a rangepartitioning
    // (a range exchange would mean a single global ordered window)
    assert(!plan.contains("rangepartitioning"),
      s"global sort in packing plan:\n$plan")
    assert(plan.contains("Window"), s"expected window:\n$plan")
  }

  test("q106/q109: chunking and entropy are narrow maps (no exchange at all)") {
    Seq(
      CorpusOps.chunkOverlap(spark, sf),
      CorpusOps.charEntropy(spark, sf)
    ).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("Exchange"), s"narrow op shuffled:\n$plan")
      assert(!plan.contains("Join"), s"narrow op joined:\n$plan")
    }
  }

  test("q105: per-language cut table broadcasts; no window over the corpus") {
    val plan = planOf(CorpusOps.adaptiveQuality(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"cut table must broadcast:\n$plan")
    assert(!plan.contains("Window"), s"no corpus window expected:\n$plan")
  }

  test("q110: weighted sample uses the bounded aggregator, not a window sort") {
    val plan = planOf(SamplingOps.weightedSample(spark, sf))
    assert(!plan.contains("Window"), s"q110 must not window-sort the corpus:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"global sort:\n$plan")
  }

  test("q111: covariance is one two-phase aggregation, no vector shuffle") {
    val plan = planOf(Similarity.embeddingCovariance(spark, sf))
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final aggregation:\n$plan")
    assert(!plan.contains("Join"), s"covariance must not join:\n$plan")
  }

  test("q107/q113: containment and incremental dedup stay equi-join shaped") {
    Seq(
      Dedup.containmentPairs(spark, sf),
      Dedup.incrementalDedup(spark, sf)
    ).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian found:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join found:\n$plan")
    }
  }

  test("q115: centroid side broadcasts; block pairing is not a cartesian") {
    val plan = planOf(Similarity.semanticDedup(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"K-row centroid table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian found:\n$plan")
    // the drop-set probe back onto the corpus is a plain equi-join
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"), s"keep-list join missing:\n$plan")
  }

  test("q116: SCD2 windows are key-partitioned, never a global sort") {
    val plan = planOf(LakehouseOps.scd2Orders(spark, sf))
    assert(plan.contains("Window"), "expected window operators")
    assert(!plan.contains("rangepartitioning"),
      s"global range sort found — window must partition by key:\n$plan")
  }

  test("q117: triangle joins are equi-joins on the checkpointed edge list") {
    val plan = planOf(GraphOps.triangles(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian found:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop found:\n$plan")
  }

  test("q118/q119: narrow map + bounded aggs; MAD cut tables broadcast") {
    val b = planOf(CorpusOps.lengthBuckets(spark, sf))
    assert(!b.contains("Join") && !b.contains("Window"),
      s"bucketing must be one narrow map + agg:\n$b")
    assert("HashAggregate".r.findAllIn(b).length >= 2,
      s"expected partial+final aggregation:\n$b")
    val m = planOf(FunctionOps.madOutliers(spark, sf))
    assert(m.contains("BroadcastHashJoin"), s"median/MAD cuts must broadcast:\n$m")
    assert(!m.contains("Window"), s"MAD must not window-sort the fact:\n$m")
  }

  test("q121: SNM window is block-partitioned (hash exchange, no global sort)") {
    val plan = planOf(Dedup.sortedNeighborhood(spark, sf))
    assert(plan.contains("Window"), "expected the neighborhood window")
    assert(!plan.contains("rangepartitioning"),
      s"global sort found — SNM must sort within hash blocks:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$plan")
  }

  test("q122: tokenizer application is one narrow map — no exchange at all") {
    val plan = planOf(TextOps.bpeEncode(spark, sf))
    assert(!plan.contains("Exchange"), s"encoding must not shuffle:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"encoding must not join/window:\n$plan")
  }

  test("q123: novelty index joins are equi-joins; df probe never fans out") {
    val plan = planOf(CorpusOps.noveltyScore(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"df and rollup must be hash aggregations:\n$plan")
  }

  test("q124: PSI totals broadcast; no window anywhere") {
    val plan = planOf(ExtraOps.psiDrift(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"segment totals must broadcast:\n$plan")
    assert(!plan.contains("Window"), s"PSI needs no cumulative window:\n$plan")
  }

  test("q125/q126: phash banding and rule joins stay equi-join shaped") {
    Seq(
      MultimodalOps.phashPairs(spark, sf),
      GraphOps.assocRules(spark, sf)
    ).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian found:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join found:\n$plan")
    }
  }

  test("q128/q129: windows run over calendar-bounded frames, facts only aggregate") {
    val g = planOf(EventOps.gapFill(spark, sf))
    assert(g.contains("Window"), "expected the LOCF window")
    assert("HashAggregate".r.findAllIn(g).length >= 2,
      s"fact must collapse via two-phase agg before the frame:\n$g")
    val m = planOf(ExtraOps.momGrowth(spark, sf))
    assert("HashAggregate".r.findAllIn(m).length >= 2,
      s"monthly rollup must be two-phase:\n$m")
  }

  test("q130: survivorship is one aggregation — no window, no join") {
    val plan = planOf(EntityOps.goldenRecord(spark, sf))
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"survivorship must be argmax aggregates only:\n$plan")
    // struct-max falls back to SortAggregate — what matters at scale is
    // the partial (map-side) phase before the key exchange
    assert(plan.contains("partial_max"),
      s"expected a map-side partial aggregation:\n$plan")
  }

  test("q131/q133: margins and weight totals broadcast; no corpus window") {
    val b = planOf(SamplingOps.splitBalance(spark, sf))
    assert(b.contains("BroadcastHashJoin") || b.contains("BroadcastNestedLoopJoin"),
      s"margins must broadcast:\n$b")
    assert(!b.contains("Window"), s"no window expected:\n$b")
    val m = planOf(SamplingOps.mixtureSchedule(spark, sf))
    assert(!m.contains("Window") && !m.contains("SortMergeJoin"),
      s"schedule must stay on the |sources|-row table:\n$m")
  }

  test("q132/q134: election is an argmax agg; ECDF window bounded by the grid") {
    val e = planOf(AdvancedOps.bestRepKeepList(spark, sf))
    assert(!e.contains("Window"), s"election must not window-sort:\n$e")
    assert(!e.contains("CartesianProduct"), s"cartesian found:\n$e")
    val r = planOf(FunctionOps.rankNormalize(spark, sf))
    assert(r.contains("Window"), "expected the grid cumulative window")
    assert(!r.contains("rangepartitioning"),
      s"no global sort — the window partitions by source:\n$r")
  }

  test("q135: the agreement meta-join runs on verified pairs, equi-only") {
    val plan = planOf(Dedup.dedupAgreement(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian found:\n$plan")
    // the 6-row method frame may broadcast-nested-loop against the tiny
    // totals — what must stay equi-shaped is the (doc_a, doc_b) grouping,
    // which HashAggregates
    assert(plan.contains("HashAggregate"), s"pair grouping missing:\n$plan")
  }

  test("q127: zone-map stats are one two-phase aggregation, no join") {
    val plan = planOf(LakehouseOps.zoneMapSkipping(spark, sf))
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final aggregation:\n$plan")
    assert(!plan.contains("Join"), s"stats need no join:\n$plan")
  }

  test("q120: KS grid bounds the window — fact side only hash-aggregates") {
    val plan = planOf(ExtraOps.ksDrift(spark, sf))
    // the only window runs over the <= KsBins cumulative grid, after the
    // per-bin aggregation has collapsed the fact table
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"bin counts must aggregate two-phase:\n$plan")
    assert(!plan.contains("rangepartitioning(o_"),
      s"fact table must not be globally sorted:\n$plan")
  }

  test("q136: one corpus pass — consumers read the checkpointed stats, " +
      "never re-scan the corpus (r16)") {
    val plan = planOf(Dedup.sourceOverlap(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian found:\n$plan")
    // the r15 form planned the exploded posting frame three times (one
    // per totals side + the pair counts — 3 corpus scans, 16 Exchanges);
    // the single diagonal-count aggregation is checkpointed, so the
    // result plan must hold NO parquet scan at all
    assert(!plan.contains("Scan parquet"),
      s"corpus re-scanned downstream of the shared stats frame:\n$plan")
  }

  test("q137/q141: rule gate and BM25 are narrow scans (no fact shuffle)") {
    val gate = planOf(CorpusOps.gopherRules(spark, sf))
    assert(!gate.contains("Exchange"), s"q137 must not shuffle:\n$gate")
    val bm = planOf(TextOps.bm25(spark, sf))
    // the ONLY exchange is the 1-row stats single-partition combine; the
    // document side must never hash/range-repartition
    assert(!bm.contains("hashpartitioning"), s"q141 fact side shuffled:\n$bm")
    assert(!bm.contains("rangepartitioning"), s"q141 fact side sorted:\n$bm")
    assert(bm.contains("BroadcastExchange") || bm.contains("BroadcastNestedLoopJoin"),
      s"q141 stats row must broadcast:\n$bm")
  }

  test("q139/q146: collapse-before-window — no corpus-sized window input") {
    val pareto = planOf(ExtraOps.paretoFrontier(spark, sf))
    // the window consumes the per-distinct-price summary produced by an agg
    assert(pareto.contains("Window"), s"skyline needs its summary window:\n$pareto")
    assert("HashAggregate".r.findAllIn(pareto).length >= 2,
      s"price summary must aggregate first:\n$pareto")
    val wm = planOf(FunctionOps.weightedMedian(spark, sf))
    assert("HashAggregate".r.findAllIn(wm).length >= 2,
      s"cells must collapse before the cumulative window:\n$wm")
  }

  test("q140: interval coverage windows are user-partitioned, no global sort") {
    val plan = planOf(EventOps.intervalCoverage(spark, sf))
    assert(plan.contains("Window"), s"sweep needs its windows:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"),
      s"windows must partition by user:\n$plan")
  }

  test("q143: KL grid joins broadcast; fact side only explodes and aggregates") {
    val plan = planOf(CorpusOps.klDivergence(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian found:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"vocab/totals must broadcast:\n$plan")
  }

  test("q145/q149: fingerprint rollups are two-phase aggs, no multi-distinct expand") {
    val pd = planOf(Dedup.prefixDedup(spark, sf))
    assert("HashAggregate".r.findAllIn(pd).length >= 2, s"q145 agg shape:\n$pd")
    val card = planOf(CorpusOps.datasetCard(spark, sf))
    assert(!card.contains("Expand"),
      s"q149 must use separate distinct aggs, not expand:\n$card")
  }

  test("q148: the iteration runs driver-side; the result plan has no corpus work") {
    val plan = planOf(Similarity.powerIteration(spark, sf))
    // the corpus moment aggregation runs ONCE (collected dimension-sized
    // covariance block); the ten matvec steps are driver doubles (r15) —
    // the returned frame must be a pure local relation, not a re-scan or
    // an iteration DAG
    assert(!plan.contains("FileScan parquet"),
      s"iteration must run on the collected summary, not re-scan:\n$plan")
    assert(plan.contains("LocalTableScan") || plan.contains("LocalRelation"),
      s"result must be the driver-computed dimension-sized literal frame:\n$plan")
    assert(!plan.contains("Exchange"),
      s"no distributed work may remain in the result plan:\n$plan")
  }

  test("q151: the watermark window is type-partitioned, never a global sort") {
    val plan = planOf(EventOps.lateData(spark, sf))
    assert(plan.contains("hashpartitioning(event_type"),
      s"window must partition by event type:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"no global sort of the event stream:\n$plan")
  }

  test("q152/q155: vocab broadcasts; hashing needs no vocab at all") {
    val vc = planOf(TextOps.vocabCoverage(spark, sf))
    assert(vc.contains("BroadcastExchange"), s"q152 vocab must broadcast:\n$vc")
    val fh = planOf(TextOps.featureHash(spark, sf))
    assert(!fh.contains("Join"), s"q155 must not join anything:\n$fh")
    assert("HashAggregate".r.findAllIn(fh).length >= 2,
      s"q155 agg must be two-phase:\n$fh")
  }

  test("q153/q154: iterative rounds run on checkpointed frames, equi-joins only") {
    Seq(GraphOps.treeDepth(spark, sf), GraphOps.kcore(spark, sf)).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"iterative graph round degenerated:\n$plan")
      // eager per-round checkpoints mean the FINAL plan never re-reads files
      assert(!plan.contains("FileScan parquet"),
        s"final round must consume the checkpointed previous round:\n$plan")
    }
  }

  test("q156/q158: audits are agg-shaped; pair frame joins stay tiny") {
    val ka = planOf(ExtraOps.kAnonymity(spark, sf))
    assert("HashAggregate".r.findAllIn(ka).length >= 2 && !ka.contains("Join"),
      s"q156 is one two-phase agg:\n$ka")
    val sl = planOf(SamplingOps.splitLeakage(spark, sf))
    assert(!sl.contains("CartesianProduct"), s"q158 cartesian:\n$sl")
  }

  test("q50: MERGE is ONE full-outer join on the key — same strategy at every scale") {
    val plan = planOf(AdvancedOps.mergeUpsertOrders(spark, sf))
    // one merge join, not a left-join + anti-join pair: the delta is a fixed
    // fraction of the fact, so a broadcast would flip to SMJ with scale; the
    // single FullOuter sort-merge join is the strategy at sf0.001 AND 100 TB
    val merges = "SortMergeJoin.*FullOuter".r.findAllIn(plan).length +
      "ShuffledHashJoin.*FullOuter".r.findAllIn(plan).length
    assert(merges == 1, s"expected exactly one full-outer merge join:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(plan).length == 1, s"extra joins in MERGE plan:\n$plan")
  }

  test("q120/q139/q157/q129: no partition-less window anywhere in the prefix plans") {
    Seq(
      ExtraOps.ksDrift(spark, sf),
      ExtraOps.paretoFrontier(spark, sf),
      ExtraOps.momGrowth(spark, sf),
      CorpusOps.decileLift(spark, sf)
    ).foreach { df =>
      val plan = planOf(df)
      // every WindowExec must carry a partition spec: the ranged prefix ops
      // put the range id in the window's partition clause
      plan.linesIterator.filter(_.contains("Window ")).foreach { l =>
        assert(l.contains("__rid"), s"window without range partition: $l")
      }
    }
  }

  test("q177/q181: sketch and moment aggregations are two-phase map-side combinable") {
    Seq(SketchOps.cmsHeavyHitters(spark, sf), EventOps.cuped(spark, sf)).foreach { df =>
      val plan = planOf(df)
      assert("HashAggregate".r.findAllIn(plan).length >= 2,
        s"expected partial+final aggregation:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"small-frame joins must broadcast, not SMJ:\n$plan")
    }
  }

  test("q178/q180: PQ scoring joins broadcast; candidate probe is an equi-join") {
    // q178: every join carries a broadcast side (codes vs Q·M·K lookups)
    val pq = planOf(QuantOps.annPq(spark, sf))
    assert(pq.contains("BroadcastHashJoin"), s"LUT joins must broadcast:\n$pq")
    assert(!pq.contains("CartesianProduct"), s"cartesian in PQ plan:\n$pq")
    assert(!pq.contains("SortMergeJoin"),
      s"q178 has no corpus×corpus join — nothing may SMJ:\n$pq")
    // q180: the probe frame (Q×IvfProbes rows) must broadcast against the
    // corpus-sized assignment; the ONLY acceptable shuffle join is the
    // corpus-side cand×codes equi-join on vec_id (both sides scale with
    // the probed lists — broadcasting either would break at 100 TB)
    val ivf = planOf(QuantOps.annIvfPq(spark, sf))
    assert(ivf.contains("BroadcastHashJoin"), s"probe/LUT joins must broadcast:\n$ivf")
    assert(!ivf.contains("CartesianProduct"), s"cartesian in IVF-PQ plan:\n$ivf")
    val smjKeys = "SortMergeJoin \\[(\\w+)#".r.findAllMatchIn(ivf).map(_.group(1)).toSet
    assert(smjKeys.subsetOf(Set("vec_id")),
      s"only the corpus-side vec_id join may SMJ, got $smjKeys:\n$ivf")
  }

  test("q179: pools are TakeOrdered cuts, not global sorts") {
    val plan = planOf(RetrievalOps.rrfFusion(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"pool cut should plan as TakeOrdered:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in fusion plan:\n$plan")
  }

  test("q183/q189: layout + placement audits are pure agg pipelines — no join at all") {
    // both claim "auditing costs one scan": cell/shard ids are narrow
    // integer projections, the only exchange is the bounded-key hash agg
    Seq(LakehouseOps.layoutAudit(spark, sf),
        ScaleOps.shardMigration(spark, sf)).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("Join"), s"audit must not join:\n$plan")
      assert(!plan.contains("Sort"), s"audit must not sort:\n$plan")
      assert("HashAggregate".r.findAllIn(plan).length >= 2,
        s"expected partial+final aggregation:\n$plan")
    }
  }

  test("q184: head cut is TakeOrdered; regression folds never window") {
    val plan = planOf(CorpusOps.zipfFit(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N head should plan as TakeOrdered:\n$plan")
    assert(!plan.contains("Window"), s"no window may appear:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the 1-row totals cross must broadcast:\n$plan")
  }

  test("q185: manifest digests are two-phase aggs; only the 64-row diff joins") {
    val plan = planOf(LakehouseOps.manifestDiff(spark, sf))
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"both sides need partial+final digest aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in diff:\n$plan")
    // XOR/modsum digests are commutative: nothing may plan a sort before
    // the aggregation (order-independence is the operator's whole claim)
    assert(!plan.contains("SortAggregate"),
      s"digest agg must be hash (order-free), not sort-based:\n$plan")
  }

  test("q188: time travel is a filter over the history — no join, no extra shuffle") {
    val plan = planOf(LakehouseOps.timeTravel(spark, sf))
    assert(!plan.contains("Join"), s"AS OF read must not join:\n$plan")
    // inherits q116's two key-partitioned windows and nothing else
    assert("Exchange hashpartitioning".r.findAllIn(plan).length ==
      "Exchange hashpartitioning".r.findAllIn(
        planOf(LakehouseOps.scd2Orders(spark, sf))).length,
      s"the filter may not add an exchange over the q116 plan:\n$plan")
  }

  test("q190/q191: flagged buckets broadcast; AUC adds only aggs over the q22 stack") {
    // q190: both corpus scans are filtered by a broadcast semi-join on the
    // ≤64-row flagged set; the only shuffle join is the key equi-join of
    // the two FILTERED sides
    val diff = planOf(LakehouseOps.localizedDiff(spark, sf))
    assert(diff.contains("BroadcastHashJoin") && diff.contains("LeftSemi"),
      s"flagged set must broadcast as a semi filter:\n$diff")
    assert(!diff.contains("CartesianProduct"), s"cartesian in diff:\n$diff")
    // q191: the rank-sum never windows the corpus — the cumulative pass
    // runs over the bounded score grid (ranged form), and the only
    // windows in the plan are the range-partitioned local prefix passes
    val auc = planOf(CorpusOps.qualityAuc(spark, sf))
    assert(!auc.contains("Window [sum") ||
      !"Window \\[[^\\]]*\\] \\[\\]".r.findFirstIn(auc).isDefined,
      s"no partition-less window may appear:\n$auc")
    assert(!auc.contains("CartesianProduct"), s"cartesian in AUC plan:\n$auc")
  }

  test("q195/q200/q206: sketch kernels codegen'd; pair/membership joins equi-only") {
    val w = Dedup.winnowPairs(spark, sf)
    val planW = planOf(w)
    val kernelW = planW.linesIterator
      .filter(_.contains("minimizer_hashes")).toSeq
    assert(kernelW.nonEmpty, s"no native minimizer kernel:\n$planW")
    assert(kernelW.exists(_.matches(""".*\*\(\d+\) .*""")),
      s"minimizer kernel outside codegen:\n${kernelW.mkString("\n")}")
    assert(!planW.contains("Window"),
      s"q195 must not plan a window (deque min is in the kernel):\n$planW")
    val c = Dedup.cdcChunkDedup(spark, sf)
    val planC = planOf(c)
    val kernelC = planC.linesIterator.filter(_.contains("cdc_chunks")).toSeq
    assert(kernelC.nonEmpty, s"no native cdc kernel:\n$planC")
    // the struct-array Generate sits outside whole-stage codegen (a Spark
    // GenerateExec limitation for non-primitive element types) — the
    // kernel itself is still ONE static JVM call per row; what the plan
    // must NOT contain is a join or window around it
    assert(!planC.contains("Join"),
      s"q200 is one kernel scan + one agg — no join belongs here:\n$planC")
    Seq(w, c, Dedup.redundancyShare(spark, sf)).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"non-equi join in sketch pipeline:\n$plan")
    }
  }

  test("suite-wide: NO gate query plans a partition-less window or an unhinted cartesian") {
    // the two scale-killer classes the per-query tests guard piecemeal:
    //  - a Window with an empty partitionSpec moves its whole input to
    //    ONE task (after the r5 ranged-prefix rewrites zero gate plans
    //    may contain one);
    //  - a conditionless join whose sides aren't explicitly
    //    broadcast-hinted or literal-bounded is an all-pairs explosion
    //    waiting for data (the accepted class in this repo is
    //    `crossJoin(broadcast(<1-row or bounded frame>))`, whose hint
    //    survives to the optimized plan).
    // One pass over every gate plan keeps the next operator honest by
    // construction.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Filter, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, Project, RepartitionOperation, Sample, Sort, SubqueryAlias, UnaryNode, Window}
    // a side is bounded-by-construction when it can only ever emit O(1)
    // rows: a global aggregate (exactly 1), a literal frame, a
    // row-preserving/reducing unary chain over one, or a join of two
    // such — the "1-row scalar broadcast" class the repo's crossJoins
    // are documented to use (Spark's stats see the 1-row bound and
    // broadcast without a hint). The unary case is an explicit
    // allowlist, NOT a generic UnaryNode pass-through: Generate
    // (explode), Expand, and the MapPartitions class are UnaryNodes
    // that inflate one row to arbitrarily many — a cross against an
    // exploded "scalar" must fail this audit, not pass it.
    def bounded(p: LogicalPlan): Boolean = p match {
      case a: Aggregate => a.groupingExpressions.isEmpty
      case _: LocalRelation => true
      case j: Join => bounded(j.left) && bounded(j.right)
      case u @ (_: Project | _: Filter | _: Sort | _: GlobalLimit |
                _: LocalLimit | _: SubqueryAlias | _: Sample |
                _: Deduplicate | _: Window) =>
        bounded(u.asInstanceOf[UnaryNode].child)
      case r: RepartitionOperation => bounded(r.child)
      case _ => false
    }
    // the AutoRangeCumSum rewrite must be off here, so the rule cannot
    // silently repair a regression (q223 is the ONE query allowed to rely
    // on it: its builder enables it for its own plan only, and its oracle
    // proves the rewrite)
    assert(spark.conf.getOption(graft.functions.AutoRangeCumSum.BucketKey).isEmpty)
    val confChanges = scala.collection.mutable.ArrayBuffer.empty[String]
    val offenders = SparkEntry.registry.flatMap {
      case GateQuery(name, fn, _) =>
        // building a plan has no side effects on the session conf. The one
        // allowed key is Tables.NanosFlag: a read-time flag the `events`
        // scan needs when the query executes, so its builder must set it.
        val before = spark.conf.getAll
        val plan = fn(spark, sf).queryExecution.optimizedPlan
        val after = spark.conf.getAll
        confChanges ++= (before.keySet ++ after.keySet)
          .filter(k => k != Tables.NanosFlag && before.get(k) != after.get(k))
          .map(k => s"$name: $k ${before.get(k)} -> ${after.get(k)}")
        val globals = plan.collect {
          case w: Window if w.partitionSpec.isEmpty =>
            s"window: ${w.windowExpressions}"
        }
        // q273's (10001-cell constant grid × distinct-sources dimension)
        // cross is deliberate and scale-safe (grid constant, sources
        // catalog-sized — its scaladoc documents the ECDF-needs-every-
        // cell shape); neither side is O(1) so it is allowlisted here
        // rather than weakening the bounded() rule for everyone
        val cartesians = if (name == "q273_wasserstein") Nil else plan.collect {
          case j: Join if j.condition.isEmpty &&
              j.hint.leftHint.forall(_.strategy.isEmpty) &&
              j.hint.rightHint.forall(_.strategy.isEmpty) &&
              !bounded(j.left) && !bounded(j.right) =>
            s"cartesian: ${j.left.nodeName} x ${j.right.nodeName}"
        }
        (globals ++ cartesians).map(o => s"$name: $o")
    }
    assert(confChanges.isEmpty,
      s"gate query builds changed the session conf:\n${confChanges.mkString("\n")}")
    assert(offenders.isEmpty,
      s"scale-killer shapes in gate plans:\n${offenders.mkString("\n")}")
  }
}
