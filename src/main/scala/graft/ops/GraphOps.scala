package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpointing.LineageSyntax
import graft.Tables

/** Iterative graph analytics over relationship graphs extracted from the
  * relational tables — the second graph kernel next to
  * [[AdvancedOps.dedupClusters]]'s connected components.
  *
  * Cross-engine parity strategy: ALL PageRank arithmetic is integer
  * (BIGINT ranks in parts-per-10^12, integral `div` for the degree split
  * and the damping factor). Floating-point PageRank cannot hash-match
  * across engines — per-node contribution sums are summation-order-
  * dependent and k iterations amplify the ulps — whereas integer division
  * and BIGINT sums are exact and associative, so the fixed-point iterate
  * is bit-identical on Spark and DuckDB at any scale and any partitioning.
  * The truncation this introduces vs real-valued PageRank is ≤ deg·1e-12
  * per node per round — noise for ranking purposes, determinism for free.
  */
object GraphOps {

  /** Rank unit: ranks are BIGINT fractions of 10^12 ("parts per tera"). */
  val RankScale = 1000000000000L
  val DampingPct = 85L
  val PagerankRounds = 3

  /** q85: PageRank over the customer↔supplier trade graph (distinct
    * (cust, supp) pairs observed in lineitem⋈orders, symmetrized so every
    * node has out-degree ≥ 1 — no dangling-mass term needed). Node ids:
    * customers at 2k, suppliers at 2k+1.
    *
    * Scale shape: each round is two equi-joins (rank and degree onto the
    * edge list, both keyed by src) + one sum aggregation keyed by dst —
    * O(edges) shuffle per round, the same shape as the CC loop, with
    * `localCheckpoint` per round so the plan stays constant-size (lineage
    * blowup is the known trap in iterative Spark). The single driver-side
    * value is the node count N (one scalar for the teleport constant —
    * the same legitimacy class as CC's convergence probe). The oracle
    * unrolls the identical [[PagerankRounds]] rounds from the same shared
    * constants.
    */
  def pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    // checkpoint the distinct pair list FIRST: the symmetrizing union and
    // the degree aggregation below each consume it, and without the
    // materialization every consumer re-runs the lineitem⋈orders join +
    // distinct from the scan (the expensive part of the whole query)
    val pairs = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
      .lineageCheckpoint()
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
    // degree is loop-invariant: join it onto the edge list ONCE and
    // checkpoint the result — otherwise every (eager) round re-runs the
    // O(edges) degree aggregation and its join from scratch. The degree
    // side is |nodes| rows (dimension-scale: customers + suppliers), so
    // broadcast it explicitly — a localCheckpoint'd relation reports the
    // default (huge) size estimate, so AQE alone would not pick the
    // broadcast and every round would pay a sort-merge join. For a graph
    // whose node list outgrows broadcast (web-scale), drop the hints and
    // the same plan degrades gracefully to shuffled equi-joins.
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val degreedEdges = edges
      .join(broadcast(deg), edges("src") === col("node"))
      .select(col("src"), col("dst"), col("deg"))
      .lineageCheckpoint()
    val nodes = degreedEdges.select(col("src").as("node")).distinct()
      .lineageCheckpoint()

    val n = nodes.count() // teleport scalar (same class as CC's probe)
    val tele = (100L - DampingPct) * (RankScale / n) / 100L

    var ranks = nodes.select(col("node"), lit(RankScale / n).as("rank"))
    for (_ <- 1 to PagerankRounds) {
      // broadcast the N-row rank vector onto the edge list: the only
      // shuffle per round is the contribution sum keyed by dst
      val contrib = degreedEdges
        .join(broadcast(ranks.select(col("node").as("rn"), col("rank"))),
          col("src") === col("rn"))
        .select(col("dst"), expr("rank div deg").as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(broadcast(sums), nodes("node") === sums("dst"), "left")
        .select(col("node"),
          (lit(tele) + expr(s"($DampingPct * coalesce(s, 0L)) div 100"))
            .as("rank"))
        .lineageCheckpoint()
    }
    ranks
  }

  val pagerankSql: String = {
    val base =
      s"""pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT c AS src, s AS dst FROM pairs
         |          UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
         |params AS (SELECT count(*) AS n,
         |                  $RankScale // count(*) AS r0,
         |                  (100 - $DampingPct) * ($RankScale // count(*)) // 100 AS tele
         |           FROM nodes),
         |r0 AS (SELECT node, (SELECT r0 FROM params) AS rank FROM nodes)""".stripMargin
    val rounds = (1 to PagerankRounds).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |         (SELECT tele FROM params)
         |           + ($DampingPct * coalesce(s.s, 0)) // 100 AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank // d.deg) AS s
         |    FROM edges e
         |    JOIN deg d ON e.src = d.node
         |    JOIN r${k - 1} r ON e.src = r.node
         |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$rounds
       |SELECT node, rank::BIGINT AS rank FROM r$PagerankRounds""".stripMargin
  }

  // ------------------------------------------------------ q117 triangles

  /** Minimum co-occurrence support for a part pair to become an edge. The
    * support filter is the scale valve: random one-off co-occurrences (the
    * bulk of the pair mass) never enter the triangle join, and the edge
    * list it leaves is the "repeatedly bought together" graph — sparse by
    * construction even when the raw pair list is not.
    */
  val TriMinSupport = 2

  /** Densification reference for the ADAPTIVE support threshold (r9): the
    * effective threshold is
    * `max(TriMinSupport, ceil(TriMinSupport·B / (TriDensityRef·P)))` with
    * B = |orders| and P = |part| — TABLE cardinalities (parquet-metadata
    * cheap on both engines, no extra pass over the fact data), all
    * integer arithmetic. Rationale: E[supp(a,b)] ∝ B/P² for fixed basket
    * width, so on PROPORTIONAL growth (B and P both ×k — the TPC-H
    * shape, measured B/P = 7.50 at sf0.001 through sf25) the ratio is
    * invariant and the threshold stays [[TriMinSupport]] — results at
    * every test scale are bit-identical to the fixed-threshold ones. On
    * DENSIFICATION (baskets grow over a fixed catalog — the regime where
    * a fixed threshold admits O(B) support inflation and the pair list
    * explodes toward all-pairs), B/P grows ×k and the threshold scales
    * ×k with it, holding the supported-edge list at the same sparsity.
    * 14 ≈ 2× the observed B/P, so the first step (ms 2→3) fires at ~1.9×
    * densification. Measured on a ×10-densified corpus, the fixed
    * threshold 2 admits 335× the edges while the adaptive one (11) holds
    * the undensified graph exactly (BASELINE.md q117 knob row).
    */
  val TriDensityRef = 14L

  /** The adaptive threshold itself: integer ceil-div, no floats. */
  private[graft] def adaptiveSupport(baskets: Long, parts: Long): Long =
    math.max(TriMinSupport.toLong,
      (TriMinSupport * baskets + TriDensityRef * parts - 1) /
        (TriDensityRef * parts))

  /** The adaptive-threshold expression in oracle SQL (DuckDB `//` is
    * integer division), over the `orders` and `part` base tables —
    * spliced into every consumer of the supported-pair base
    * (q117/q126/q154) so the oracle can never desync from
    * [[adaptiveSupport]].
    */
  private[graft] val adaptiveSupportSql: String =
    s"""(SELECT greatest($TriMinSupport,
       |   ($TriMinSupport*(SELECT count(*) FROM orders) + $TriDensityRef*(SELECT count(*) FROM part) - 1)
       |     // ($TriDensityRef*(SELECT count(*) FROM part))))""".stripMargin
  /** Report size of the per-node triangle ranking. */
  val TriTopK = 20

  /** q117: triangle counting over the part co-purchase graph — the third
    * classic graph kernel next to CC (q57) and PageRank (q85), and the
    * standard density/community signal (a part in many triangles sits in a
    * tightly co-bought cluster, not just a popular item).
    *
    * Graph: nodes = parts; an edge (a,b), a<b, exists when the pair
    * appears in ≥ [[TriMinSupport]] distinct orders. Pairs are emitted
    * per-order via the family-wide sorted-postings posexplode+slice idiom
    * (an order touches ≤ a handful of parts, and the
    * [[Dedup.MaxPostings]] guard bounds any degenerate mega-order), so
    * the pair stage is one shuffle keyed by order, O(Σ k_o²) output rows.
    *
    * Triangles: DEGREE-ORIENTED enumeration — each undirected edge points
    * from its (deg, id)-smaller endpoint to the larger (a total order, so
    * the orientation is acyclic and every triangle materializes exactly
    * once: wedge at its smallest corner, closed by the directed third
    * edge). Wedge fan-out is Σ C(outdeg, 2) with outdeg ≤ O(√m) under
    * degree orientation — the O(m^1.5) web-scale bound — where
    * id-orientation leaves a low-id hub with O(deg²) wedges. Costs one
    * extra O(edges) degree join up front; per-node counts are orientation-
    * independent, so the id-oriented DuckDB oracle is unchanged. Wedges
    * are emitted from per-source sorted ADJACENCY ARRAYS via the
    * family-wide posexplode+slice idiom (r9 — replaces the r5 self-join +
    * eager checkpoint tail: one groupBy shuffle instead of a self-join
    * with a blocking localCheckpoint job between, which at report-grade
    * edge counts was pure fixed overhead). Per-node counts = each
    * triangle credited to its three corners (one narrow explode),
    * top-[[TriTopK]] report with deterministic ties (count desc, node
    * asc). All integer, no floats anywhere.
    */
  /** The distinct (order, part) incidence list (q126's item-support /
    * basket-count base) and the supported co-purchase pair list (a<b,
    * ≥ [[adaptiveSupport]] shared orders; q117/q126/q154's edge base,
    * built straight from the raw incidence projection — the per-basket
    * `array_distinct` in [[coPairSupport]] makes the pre-distinct pass
    * redundant), both localCheckpoint'd and memoized per (session,
    * input) — the same run-the-stack-once discipline as the q57/q63 CC
    * memo. Entries live until [[invalidateGraphCache]] or process end.
    */
  private val coMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def invalidateGraphCache(spark: SparkSession): Unit =
    coMemo.keySet.removeIf(_._1 eq spark)

  private[ops] def coIncidence(spark: SparkSession, sfDir: String): DataFrame =
    coMemo.computeIfAbsent((spark, sfDir, "pp"), _ =>
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
        .distinct()
        .lineageCheckpoint())

  /** The UNthresholded supported-pair pipeline over a `(okey, pk)`
    * incidence frame — the single source of the co-purchase pair shape,
    * consumed by the memoized [[coPairs]] (with the adaptive support
    * filter).
    *
    * The per-basket `array_distinct` folds the incidence dedup into the
    * ONE groupBy shuffle (r9) — callers feed the raw `(okey, pk)`
    * projection and skip the separate full-data `distinct` exchange the
    * r5 shape paid (at sf1 that distinct + its checkpoint were ~40% of
    * the pair-base build).
    */
  private[graft] def coPairSupport(pp: DataFrame): DataFrame =
    pp.groupBy(col("okey"))
      .agg(sort_array(array_distinct(collect_list(col("pk")))).as("ps"))
      .filter(size(col("ps")).between(2, Dedup.MaxPostings))
      .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"))
      .select(col("a"),
        explode(slice(col("ps"), col("i") + 2, size(col("ps")))).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("supp_ab"))

  private[ops] def coPairs(spark: SparkSession, sfDir: String): DataFrame =
    coMemo.computeIfAbsent((spark, sfDir, "pairs"), _ => {
      val inc = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      // adaptive-threshold scalar probe (the documented 1-row-agg class):
      // two dimension-table counts — parquet metadata reads, never a
      // pass over the fact data
      val ms = adaptiveSupport(
        Tables.orders(spark, sfDir).count(),
        Tables.part(spark, sfDir).count())
      coPairSupport(inc)
        .filter(col("supp_ab") >= ms)
        .lineageCheckpoint()
    })

  def triangles(spark: SparkSession, sfDir: String): DataFrame =
    triangleTail(coPairs(spark, sfDir).select(col("a"), col("b")))

  /** Degree-oriented wedge + closure tail of q117 over an arbitrary
    * undirected supported-edge list `(a, b)`; the gate query is this tail
    * over [[coPairs]]' memoized [[TriMinSupport]]-supported edges
    * (BASELINE.md's q117 knob row measures it at other edge densities).
    */
  private[graft] def triangleTail(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("a").as("n"))
      .unionByName(edges.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // (src → dst) with dd = deg-order key of dst; referenced twice (the
    // adjacency groupBy and the closure join) — identical subtrees, so
    // AQE exchange reuse dedupes the deg shuffle; no eager checkpoint
    // (the r5 tail's blocking localCheckpoint job was ~1/3 of the warm
    // wall at report-grade edge counts)
    val dir = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dd"))
    // per-source adjacency sorted by the (deg, id) endpoint order: wedge
    // (v, w), v before w in that order, via posexplode+slice — ONE
    // groupBy shuffle replaces the r5 self-join; closure = the directed
    // third edge v→w (v below w in the orientation order by
    // construction, so dir holds exactly that arrow)
    val adj = dir.groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("dd"), col("dst")))).as("ns"))
      .filter(size(col("ns")) >= 2)
    val wedges = adj
      .select(col("src"), posexplode(col("ns")).as(Seq("i", "x")), col("ns"))
      .select(col("src"), col("x").getField("dst").as("v"),
        explode(slice(col("ns"), col("i") + 2, size(col("ns")))).as("y"))
      .select(col("src"), col("v"), col("y").getField("dst").as("w"))
    val tri = wedges
      .join(dir.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src"), col("v"), col("w"))
    tri.select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("node").asc)
      .limit(TriTopK)
  }

  val trianglesSql: String =
    s"""WITH pp AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
       |sz AS (SELECT okey, count(*) AS k FROM pp GROUP BY 1
       |       HAVING count(*) BETWEEN 2 AND ${Dedup.MaxPostings}),
       |pairs AS (
       |  SELECT x.pk AS a, y.pk AS b
       |  FROM pp x JOIN pp y ON x.okey = y.okey AND x.pk < y.pk
       |  JOIN sz ON x.okey = sz.okey),
       |edges AS (SELECT a, b FROM pairs GROUP BY 1, 2
       |          HAVING count(*) >= $adaptiveSupportSql),
       |tri AS (
       |  SELECT w.a, w.b, w.c
       |  FROM (SELECT e1.a, e1.b, e2.b AS c
       |        FROM edges e1 JOIN edges e2 ON e1.b = e2.a) w
       |  JOIN edges e3 ON w.a = e3.a AND w.c = e3.b),
       |corners AS (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |SELECT node, count(*) AS n_tri FROM corners GROUP BY 1
       |ORDER BY n_tri DESC, node ASC LIMIT $TriTopK""".stripMargin

  // ------------------------------------------------- q126 association rules

  /** Report size of the rule ranking. Min support is [[TriMinSupport]] —
    * the same co-purchase edge base as q117.
    */
  val RulesTopK = 20

  /** q126: association-rule mining over the part co-purchase baskets —
    * the market-basket classic on the q117 edge base: for every supported
    * pair, both directed rules a→b with confidence = supp(a,b)/supp(a)
    * and lift = N·supp(a,b)/(supp(a)·supp(b)), top-[[RulesTopK]] by lift.
    * Lift > 1 separates "bought together because both are popular" from
    * genuine affinity — the curation-relevant signal (q84's mixing and
    * q123's novelty ask the same question of sources and shingles).
    *
    * Scale shape: the pair kernel is q117's (per-basket sorted postings,
    * MaxPostings-capped, support-filtered); item supports are one hash
    * agg joined onto the (much smaller) supported-pair list; the basket
    * count N is a 1-row broadcast (the q54/q114 scalar class). Metrics
    * divide exact BIGINTs into doubles identically on both engines; the
    * final global top-k sort runs over the support-filtered rule list,
    * which min-support keeps report-sized (at 100 TB raise min-support /
    * take per-antecedent top-k first — same plan with one extra window).
    */
  def assocRules(spark: SparkSession, sfDir: String): DataFrame = {
    val pp = coIncidence(spark, sfDir)
    val baskets = pp.select(col("okey")).distinct().count()
    val item = pp.groupBy(col("pk")).agg(count(lit(1)).as("supp_i"))
    val pairs = coPairs(spark, sfDir)
    val rules = pairs.select(col("a").as("ante"), col("b").as("cons"), col("supp_ab"))
      .unionByName(pairs.select(col("b").as("ante"), col("a").as("cons"), col("supp_ab")))
    rules
      .join(broadcast(item.select(col("pk").as("ante"), col("supp_i").as("supp_ante"))), "ante")
      .join(broadcast(item.select(col("pk").as("cons"), col("supp_i").as("supp_cons"))), "cons")
      .select(col("ante"), col("cons"), col("supp_ab"), col("supp_ante"), col("supp_cons"),
        Portable.r4(col("supp_ab").cast("double") / col("supp_ante")).as("confidence"),
        Portable.r4((col("supp_ab") * baskets).cast("double") /
          (col("supp_ante") * col("supp_cons"))).as("lift"))
      .orderBy(col("lift").desc, col("ante").asc, col("cons").asc)
      .limit(RulesTopK)
  }

  val assocRulesSql: String =
    s"""WITH pp AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
       |n AS (SELECT count(DISTINCT okey) AS baskets FROM pp),
       |item AS (SELECT pk, count(*) AS supp_i FROM pp GROUP BY 1),
       |sz AS (SELECT okey FROM pp GROUP BY 1
       |       HAVING count(*) BETWEEN 2 AND ${Dedup.MaxPostings}),
       |pairs AS (
       |  SELECT x.pk AS a, y.pk AS b, count(*) AS supp_ab
       |  FROM pp x JOIN pp y ON x.okey = y.okey AND x.pk < y.pk
       |  JOIN sz ON x.okey = sz.okey
       |  GROUP BY 1, 2 HAVING count(*) >= $adaptiveSupportSql),
       |rules AS (
       |  SELECT a AS ante, b AS cons, supp_ab FROM pairs
       |  UNION ALL
       |  SELECT b, a, supp_ab FROM pairs)
       |SELECT r.ante, r.cons, r.supp_ab,
       |       ia.supp_i AS supp_ante, ic.supp_i AS supp_cons,
       |       ${Portable.r4Sql("r.supp_ab::DOUBLE / ia.supp_i")} AS confidence,
       |       ${Portable.r4Sql(
             "(r.supp_ab * (SELECT baskets FROM n))::DOUBLE / (ia.supp_i * ic.supp_i)")} AS lift
       |FROM rules r
       |JOIN item ia ON r.ante = ia.pk
       |JOIN item ic ON r.cons = ic.pk
       |ORDER BY lift DESC, ante ASC, cons ASC LIMIT $RulesTopK""".stripMargin

  // ------------------------------------------------ q153 hierarchy depth

  /** Pointer-doubling round CAP on CHANGING rounds: the loop is
    * probe-terminated (it stops one round after Σdist stops changing), so
    * the loop bound admits cap + 1 iterations — up to [[TreeMaxRounds]]
    * rounds that move the probe plus the one confirming round that
    * observes it constant. 10 doublings resolve chains of depth < 2¹⁰,
    * i.e. halving hierarchies over key domains to 2¹⁰²⁴ — unreachable;
    * deeper real hierarchies scale the ROUND COUNT logarithmically, never
    * the per-round cost.
    */
  val TreeMaxRounds = 10

  /** q153: recursive hierarchy traversal — depth and root for every node
    * of the parent forest parent(k) = k div 2 over the customer keys (a
    * deterministic stand-in for any org chart / BOM / category tree).
    * Spark has no WITH RECURSIVE; the standard translation is pointer
    * doubling: each round, every node's pointer jumps to its pointer's
    * pointer and accumulates the hop distance, so R rounds resolve chains
    * of length 2^R — O(log depth) equi-join rounds instead of the
    * oracle's O(depth) sequential recursion. The root absorbs (its hop
    * distance is 0), so resolved nodes pass through unchanged — which
    * makes Σdist a convergence probe: it strictly increases while any
    * chain is unresolved and is constant exactly at the fixpoint. The
    * loop is probe-terminated with a [[TreeMaxRounds]] runaway cap (the
    * q57 discipline: one decimal(38,0) aggregation per round — Σdist over
    * a BIGINT column can pass 2⁶³ once depth × keys does).
    *
    * Scale shape: per round, ONE self equi-join on the uniform pointer
    * key + `localCheckpoint` (the q57/q85 lineage discipline) + a
    * one-row probe collect. All arithmetic integer. The oracle is
    * DuckDB's real WITH RECURSIVE over the same forest — engine-level
    * run-to-convergence recursion vs probe-terminated log-round doubling
    * landing on identical rows is the point of the audit.
    */
  def treeDepth(spark: SparkSession, sfDir: String): DataFrame = {
    // keys ≤ 1 are their own roots (k div 2 would send 1→0 and pin 0 to
    // itself anyway — making both explicit self-roots keeps the forest
    // well-defined on 0-based key domains)
    var st = Tables.customer(spark, sfDir).select(
      col("c_custkey").as("node"),
      when(col("c_custkey") > 1, expr("c_custkey div 2"))
        .otherwise(col("c_custkey")).as("ptr"),
      when(col("c_custkey") > 1, lit(1L)).otherwise(lit(0L)).as("dist"))
      .lineageCheckpoint()
    def distSum(df: DataFrame): BigDecimal = {
      val r = df.agg(sum(col("dist").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0))
    }
    var prev: BigDecimal = null
    var cur = distSum(st)
    var round = 0
    // <= cap: the cap bounds CHANGING rounds; the final iteration that
    // confirms the probe constant must not count against it (a forest
    // converging in exactly TreeMaxRounds movements is still in-spec)
    while (cur != prev && round <= TreeMaxRounds) {
      prev = cur
      st = st
        .join(st.select(col("node").as("ptr"), col("ptr").as("ptr2"),
          col("dist").as("d2")), Seq("ptr"))
        .select(col("node"), col("ptr2").as("ptr"),
          (col("dist") + col("d2")).as("dist"))
        .lineageCheckpoint()
      cur = distSum(st)
      round += 1
    }
    require(cur == prev,
      s"treeDepth: no fixpoint within $TreeMaxRounds doubling rounds")
    st.select(col("node").as("c_custkey"), col("dist").as("depth"),
      col("ptr").as("root"))
  }

  val treeDepthSql: String =
    """WITH RECURSIVE walk AS (
      |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS d FROM customer
      |  UNION ALL
      |  SELECT node, cur // 2, d + 1 FROM walk WHERE cur > 1)
      |SELECT node AS c_custkey, d::BIGINT AS depth, cur::BIGINT AS root
      |FROM walk WHERE cur <= 1""".stripMargin

  // ------------------------------------------------------ q154 k-core

  val KCoreK = 2
  /** Peeling round CAP — a runaway bound, not the iteration count: the
    * loop is probe-terminated (peeling only removes edges, so the edge
    * COUNT is constant exactly at the fixpoint — the natural probe here,
    * where q57's label-sum probe detects value changes). Peeling depth is
    * data-dependent; the oracle unrolls this many rounds, which is safe
    * because post-fixpoint rounds are identities.
    */
  val KCoreMaxRounds = 8

  /** q154: k-core decomposition (probe-terminated peeling) — repeatedly
    * remove nodes with degree < k from the co-purchase graph until the
    * survivors all have ≥ k neighbors inside the survivor set. The
    * community-"core" extraction step (spam/bot subgraph mining,
    * dense-region seeding) next to q117's triangle count and q57's
    * components.
    *
    * Scale shape: per round, one degree aggregation over the (symmetrized
    * on the fly) edge list + two semi-shaped equi-joins to restrict both
    * endpoints, `localCheckpoint` capping lineage, and a one-row count
    * probe — O(edges) per round on uniform keys, the CC/PageRank cost
    * class, over the MEMOIZED q117/q126 pair base (built once per
    * session). The loop stops one round after the edge count stops
    * falling ([[KCoreMaxRounds]] runaway cap on CHANGING rounds — the
    * loop bound admits cap + 1 iterations so the confirming round does
    * not count against capacity); the oracle's unrolled
    * rounds past the fixpoint are identities, so both engines land on the
    * same survivor set regardless of where each stops.
    */
  def kcore(spark: SparkSession, sfDir: String): DataFrame = {
    var edges = coPairs(spark, sfDir).select(col("a"), col("b"))
      .lineageCheckpoint()
    var prev = -1L
    var cur = edges.count()
    var round = 0
    // <= cap: cap bounds CHANGING (edge-removing) rounds; the confirming
    // round is free, so a graph peeling for exactly KCoreMaxRounds rounds
    // still terminates cleanly (oracle identities past the fixpoint keep
    // the unrolled SQL aligned either way)
    while (cur != prev && round <= KCoreMaxRounds) {
      prev = cur
      val deg = edges.select(col("a").as("n"))
        .unionByName(edges.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KCoreK)
      edges = edges
        .join(deg.select(col("n").as("a")), "a")
        .join(deg.select(col("n").as("b")), "b")
        .select(col("a"), col("b"))
        .lineageCheckpoint()
      cur = edges.count()
      round += 1
    }
    require(cur == prev,
      s"kcore: no fixpoint within $KCoreMaxRounds peeling rounds")
    edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  val kcoreSql: String = {
    // every CTE is MATERIALIZED: each round references the previous edge
    // set three times, and DuckDB's default inline expansion copies the
    // pair join 3^rounds times (measured: the plain chain never returns)
    val sb = new StringBuilder
    sb ++= s"""WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
              |sz AS MATERIALIZED (SELECT okey, count(*) AS k FROM pp GROUP BY 1
              |       HAVING count(*) BETWEEN 2 AND ${Dedup.MaxPostings}),
              |pairs AS MATERIALIZED (
              |  SELECT x.pk AS a, y.pk AS b
              |  FROM pp x JOIN pp y ON x.okey = y.okey AND x.pk < y.pk
              |  JOIN sz ON x.okey = sz.okey),
              |e0 AS MATERIALIZED (SELECT a, b FROM pairs GROUP BY 1, 2
              |       HAVING count(*) >= $adaptiveSupportSql),
              |""".stripMargin
    for (r <- 1 to KCoreMaxRounds) {
      sb ++= s"""d$r AS MATERIALIZED (SELECT n FROM (SELECT a AS n FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
                |       GROUP BY 1 HAVING count(*) >= $KCoreK),
                |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
                |       JOIN d$r x ON e.a = x.n JOIN d$r y ON e.b = y.n),
                |""".stripMargin
    }
    sb ++= s"""fin AS (SELECT a AS node FROM e$KCoreMaxRounds UNION ALL SELECT b FROM e$KCoreMaxRounds)
              |SELECT node, count(*) AS deg FROM fin GROUP BY 1""".stripMargin
    sb.result()
  }

  // ------------------------------------------- q201 label propagation

  /** Synchronous label-propagation rounds (fixed-k by contract — on a
    * bipartite graph synchronous LPA can oscillate, so an until-stable
    * loop is not well-defined; the fixed-round output is deterministic
    * and is what both engines compute).
    */
  val LpaRounds = 4

  /** q201: label-propagation community detection (Raghavan et al. 2007)
    * over the customer–supplier interaction graph — each node repeatedly
    * adopts the most frequent label among its neighbors (ties → smallest
    * label), starting from singleton labels. The near-linear community
    * layer of the graph suite: q57/q63's connected components answer
    * "reachable at all" (every touching doc merges), LPA answers "densely
    * attached" — the segmentation a marketplace or interaction dataset
    * wants when components are one giant blob. Output: node → community
    * after [[LpaRounds]] rounds.
    *
    * Scale shape (r10 rewrite): the edge list is grouped ONCE into a
    * loop-invariant adjacency frame (src → array(dst), |nodes| rows,
    * localCheckpointed); each round joins the |nodes|-sized label frame
    * onto it with an explicit broadcast — the r9 shape joined the raw
    * edge frame against labels with NO hint, and since localCheckpoint
    * relations report the default (huge) size estimate, Spark planned a
    * sort-merge join that re-shuffled the ENTIRE edge list every round
    * (2×O(edges) exchange × rounds; q201 was the ×25 suite's absolute
    * ceiling at 24.3 s). Now the only O(edges) work per round is the
    * pipelined explode of the adjacency arrays and ONE partial-agg
    * (dst, lbl) vote exchange + the per-dst argmax — the q85 PageRank
    * discipline (broadcast the node-sized frame, shuffle only the
    * map-side-combined votes). For a graph whose node list outgrows the
    * broadcast budget, drop the hint and the same plan degrades to
    * shuffled equi-joins on node ids — still no all-pairs, no
    * partition-less window (the argmax is max(struct) per node).
    *
    * Parity: counts are exact integers; the argmax orders by
    * (count DESC, label ASC) on both engines (max(struct(cnt, −lbl)) ≡
    * the oracle's row_number window); initial labels are the node ids.
    */
  def labelProp(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
      .lineageCheckpoint()
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
      .lineageCheckpoint()
    labelPropEdges(edges)
  }

  /** Session conf: byte budget for the LPA broadcast-kernel label vector
    * (and, transitively, for the driver collect that feeds it). The
    * broadcast kernel ships a primitive-array `LongMap` of |nodes|
    * entries once per round (~[[LpaBytesPerNode]] B/node serialized,
    * open-addressed at 2× capacity on heap); above the budget the rounds
    * fall back to the shuffled join + two-level-agg form IN CODE (see
    * [[labelPropShuffledRounds]]) — the same auto-valve discipline as
    * [[MultimodalOps.phashAdaptiveArity]] / [[adaptiveSupport]].
    *
    * The default is deliberately NOT `spark.sql.autoBroadcastJoinThreshold`
    * (10 MB ≈ 300k nodes): explicit `broadcast()` hints — the q85
    * PageRank rank vector, the opening trie — already bypass that
    * threshold by design, and a 10 MB gate would demote the kernel on the
    * ×25 bench corpus (4.0M nodes) where it is the measured-optimal plan
    * (exchange −65%, task −40% vs the join form). 512 MB ≈ 16M nodes
    * keeps every measured scale on the kernel while guaranteeing a
    * web-scale graph (10⁹ nodes ≈ 32 GB) takes the shuffled form instead
    * of OOMing the driver.
    */
  val LpaBroadcastBudgetKey = "graft.lpa.broadcastBudgetBytes"
  val LpaBroadcastBudgetDefault: Long = 512L << 20
  /** Conservative per-node heap estimate for the broadcast label map.
    * `LongMap` holds two Long arrays at power-of-2 capacity with a max
    * load factor of 0.5, so the FLOOR is 32 B/entry (capacity exactly
    * 2n, hit only when 2n is a power of two — e.g. the 4.0M-node sf25
    * graph) and the worst case just past a power-of-2 boundary is
    * ~64 B/entry plus map-object overhead. r11 used the floor as the
    * estimate; r12 fixed a constant (72) to the footprint measured on
    * the dev JVM — but `SizeEstimator` results shift with the host
    * JVM's heap layout (compressed oops off at large -Xmx, alignment),
    * and the same map weighed 82.24 B/node on another box, slipping
    * maps ~14% past budget through the gate. r16 therefore DERIVES the
    * constant once per JVM: weigh a real label map built exactly the
    * way [[buildLabelMap]] builds it, at an n just past a power-of-2
    * capacity boundary (backing arrays freshly doubled — the per-node
    * worst case; the ratio is scale-invariant because primitive-array
    * sizes are measured exactly, not sampled), and take the ceiling,
    * floored at the historical 72 so the gate never loosens. The budget
    * gate exists to prevent an OOM, so it must hold at EVERY n on THIS
    * JVM — GraphOpsSpec re-measures real maps across capacity
    * boundaries against the derived value. Lazy: only the LPA broadcast
    * gate pays for the probe, not every reader of this object.
    */
  lazy val LpaBytesPerNode: Long = {
    val n = (1 << 13) + 1 // just past a boundary: capacity/entries ≈ 4
    val probe = buildLabelMap(
      Array.tabulate(n)(i => (i.toLong, (i % 97).toLong)))
    val measured = org.apache.spark.util.SizeEstimator.estimate(probe)
    math.max(72L, math.ceil(measured.toDouble / n).toLong)
  }

  /** Session conf: cap on voters per reverse-adjacency array row. A hub
    * node's voter set is SUB-SHARDED into ≤ this many elements per row
    * (dst, shard, srcs) and the kernel merges counts across a node's
    * consecutive shards — so a celebrity node (10⁸ followers) costs many
    * bounded rows, never one unbounded array in a single row.
    */
  val LpaShardSizeKey = "graft.lpa.voterShardSize"
  val LpaShardSizeDefault = 4096

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** LPA core over a symmetrized `(src, dst)` edge frame (unit-testable
    * with constructed graphs).
    *
    * Round 1 is SPECIALIZED (r9): with singleton init labels every
    * (dst, lbl) vote count is exactly 1 — edges are distinct pairs and
    * each neighbor votes its own unique id — so the argmax (count DESC,
    * label ASC) degenerates to `min(neighbor id)` per node: ONE
    * aggregation straight off the edge list replaces the join + the
    * |edges|-row (dst, lbl) grid + the per-dst argmax of the generic
    * round, on exactly the round where that grid is largest (all labels
    * distinct). Nodes all appear as dst (the edge frame is symmetrized),
    * so the updated node set matches the generic round's. PRECONDITION
    * the specialization leans on: the edge frame holds DISTINCT
    * (src, dst) pairs (both callers guarantee it — q201 dedups before
    * symmetrizing, the spec constructs distinct edges); duplicate edges
    * would weight votes in the generic round but not the min. Measured
    * at sf1: ~1/3 of q201's task-time was round 1. The unrolled oracle is
    * UNCHANGED — its l1 row_number over cnt DESC, lbl ASC picks the same
    * min-label winner under all-ones counts.
    *
    * Rounds 2+ are SIZE-GATED (r11): the round-1 label frame is exactly
    * one row per node, so its count is the graph's node count — one
    * driver scalar (the q85 teleport-constant legitimacy class) decides
    * between the two round forms:
    *  - |nodes| × [[LpaBytesPerNode]] ≤ [[LpaBroadcastBudgetKey]] →
    *    [[labelPropBroadcastRounds]]: shuffle-free rounds over a
    *    loop-invariant sharded reverse adjacency with the label vector
    *    broadcast as a primitive map (the r10 kernel, hub rows now
    *    bounded);
    *  - else → [[labelPropShuffledRounds]]: the shuffled equi-join +
    *    two-level vote aggregation (partial-agg map-side combine), which
    *    never materializes a node-sized structure on any single machine.
    * Both forms implement the identical (count DESC, label ASC) argmax;
    * GraphOpsSpec proves them row-identical on a constructed graph.
    */
  private[graft] def labelPropEdges(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val labels1 = edges
      .groupBy(col("dst"))
      .agg(min(col("src")).as("lbl"))
      .select(col("dst").as("node"), col("lbl"))
      .lineageCheckpoint()
    val nodes = labels1.count() // decision scalar: one driver Long
    val budget = spark.conf.getOption(LpaBroadcastBudgetKey)
      .map(_.toLong).getOrElse(LpaBroadcastBudgetDefault)
    val broadcastable = nodes * LpaBytesPerNode <= budget
    log.info(s"LPA rounds: ${if (broadcastable) "broadcast kernel"
      else "shuffled join"} (|nodes|=$nodes × $LpaBytesPerNode B " +
      s"vs budget $budget B)")
    val out =
      if (broadcastable) labelPropBroadcastRounds(edges, labels1)
      else labelPropShuffledRounds(edges, labels1)
    out.select(col("node"), col("lbl").as("community"))
  }

  /** Shuffle-free LPA rounds for a graph whose label vector fits the
    * broadcast budget. Loop-invariant REVERSE adjacency (dst → voter
    * shards), built once with the loop's only full-size exchanges; each
    * round then broadcasts the |nodes|-row label vector as a primitive
    * `LongMap` (the q85 rank-vector / opening-trie idiom) and computes
    * each node's argmax IN the kernel over its own voter arrays — the
    * r10 join+explode form still exchanged O(edges) (dst, lbl) vote rows
    * per round (411 MB at sf1, measured), because the partial aggregation
    * upstream of the vote shuffle can only combine duplicates sharing a
    * map partition.
    *
    * Hub bounding (r11): voters are sharded into ≤[[LpaShardSizeKey]]
    * element rows via a per-dst row_number (a PARTITIONED window — the
    * hub's rows sort in one spillable task but never concatenate into one
    * row), and the kernel merges counts across a node's consecutive
    * shards — `repartition(dst)` + `sortWithinPartitions(dst, shard)`
    * guarantees the shards of one node are adjacent in one partition
    * (localCheckpoint materializes the partitions verbatim, so the order
    * survives every round's re-read).
    */
  /** The broadcast label vector as a primitive map — extracted so
    * GraphOpsSpec can weigh REAL maps (`SizeEstimator.estimate`)
    * against the [[LpaBytesPerNode]] gate constant across capacity
    * boundaries.
    */
  private[graft] def buildLabelMap(
      rows: Array[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val lm = new scala.collection.mutable.LongMap[Long](rows.length * 2)
    rows.foreach { case (n, l) => lm.update(n, l) }
    lm
  }

  private def labelPropBroadcastRounds(
      edges: DataFrame, labels1: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val shardSize = spark.conf.getOption(LpaShardSizeKey)
      .map(_.toInt).getOrElse(LpaShardSizeDefault)
    require(shardSize > 0, s"$LpaShardSizeKey must be positive")
    val w = Window.partitionBy(col("dst")).orderBy(col("src"))
    val rev = edges
      .withColumn("shard", ((row_number().over(w) - 1) / shardSize).cast("int"))
      .groupBy(col("dst"), col("shard"))
      .agg(collect_list(col("src")).as("srcs"))
      .repartition(col("dst"))
      .sortWithinPartitions(col("dst"), col("shard"))
      .as[(Long, Int, Seq[Long])]
      .lineageCheckpoint()
    var labels = labels1
    for (round <- 2 to LpaRounds) {
      val rows = labels.as[(Long, Long)].collect()
      val lm = buildLabelMap(rows)
      if (round == 2) {
        // per-decision audit (r11 verdict #5): the gate sized this map
        // as |nodes| × LpaBytesPerNode BEFORE building it — log what it
        // actually weighs so an unconservative estimate is visible in
        // the INFO stream, not discovered as a driver OOM
        val measured = org.apache.spark.util.SizeEstimator.estimate(lm)
        val perNode =
          if (rows.isEmpty) 0.0 else measured.toDouble / rows.length
        log.info(f"LPA broadcast payload: $measured B for ${rows.length} " +
          f"nodes ($perNode%.1f B/node; gate estimate $LpaBytesPerNode " +
          f"B/node ${if (perNode <= LpaBytesPerNode) "conservative"
          else "EXCEEDED"})")
      }
      val bc = spark.sparkContext.broadcast(lm)
      labels = rev.mapPartitions { it =>
        val m = bc.value
        val bi = it.buffered
        new Iterator[(Long, Long)] {
          def hasNext: Boolean = bi.hasNext
          def next(): (Long, Long) = {
            // exact inner-join semantics: a voter absent from the label
            // frame contributes nothing (cannot happen on symmetrized
            // edges — every src is also a dst — but kept identical to the
            // join form). Argmax rule (count DESC, label ASC) is a total
            // order, so map traversal order cannot change the winner.
            val (dst, _, srcs0) = bi.next()
            val cnt = scala.collection.mutable.LongMap.empty[Long]
            def add(srcs: Seq[Long]): Unit = srcs.foreach { s =>
              m.get(s).foreach(l => cnt(l) = cnt.getOrElse(l, 0L) + 1L)
            }
            add(srcs0)
            while (bi.hasNext && bi.head._1 == dst) add(bi.next()._3)
            var bestL = Long.MaxValue
            var bestC = 0L
            cnt.foreachEntry { (l, c) =>
              if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
            }
            (dst, bestL)
          }
        }
      }.toDF("node", "lbl").lineageCheckpoint()
    }
    labels
  }

  /** The at-any-scale LPA rounds: shuffled equi-join of the label frame
    * onto the edge list + TWO-LEVEL vote aggregation — `groupBy(dst, lbl)
    * count` (partially aggregable: duplicates collapse map-side) then the
    * per-dst `max(struct(cnt, −lbl))` argmax (also partially aggregable).
    * O(edges) exchange per round and nothing node-sized ever lands on one
    * machine — the form the broadcast kernel's budget gate falls back to
    * (the fallback the r10 comment promised in prose is now this code).
    */
  private def labelPropShuffledRounds(
      edges: DataFrame, labels1: DataFrame): DataFrame = {
    var labels = labels1
    for (_ <- 2 to LpaRounds) {
      val votes = edges
        .join(labels, edges("src") === labels("node"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      labels = votes
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lbl"))
        .lineageCheckpoint()
    }
    labels
  }

  val labelPropSql: String = {
    val base =
      s"""pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT c AS src, s AS dst FROM pairs
         |          UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)""".stripMargin
    val rounds = (1 to LpaRounds).map { k =>
      s"""v$k AS MATERIALIZED (
         |  SELECT e.dst, l.lbl, count(*) AS cnt
         |  FROM edges e JOIN l${k - 1} l ON e.src = l.node
         |  GROUP BY 1, 2),
         |l$k AS MATERIALIZED (
         |  SELECT dst AS node, lbl FROM (
         |    SELECT dst, lbl,
         |           row_number() OVER (PARTITION BY dst
         |                              ORDER BY cnt DESC, lbl) AS rn
         |    FROM v$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$rounds
       |SELECT node, lbl AS community FROM l$LpaRounds""".stripMargin
  }
}
