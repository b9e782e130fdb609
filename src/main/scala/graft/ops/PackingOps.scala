package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-batch construction: concat-then-chunk sequence packing and
  * per-source quota capping — the step BETWEEN a curated corpus and a
  * training run that none of the dedup/selection operators cover. The
  * reference pipeline stops at a published parquet corpus
  * (`/root/reference/dvc.yaml:52-62`); an LLM training pipeline then packs
  * that corpus into fixed-length token sequences (GPT-style concatenation
  * with document boundaries crossing chunk edges) and applies per-source
  * admission quotas (the C4/RefinedWeb per-domain cap). Both are expressed
  * here as pure DataFrame plans with exact-integer parity.
  */
object PackingOps {

  private def r4(c: Column): Column = Portable.r4(c)
  private def r4Sql(x: String): String = Portable.r4Sql(x)

  // ------------------------------------------ q210/q211 concat-then-chunk

  /** Training-sequence length in tokens (the context-window stand-in) and
    * the doc_id stride of one cumsum range (max rows a single prefix-sum
    * task sorts — the [[ScaleOps.rangedCumSum]] knob).
    */
  val PackLen = 128L
  val PackRange = 4096L

  /** Per-document packed spans over the doc_id-ordered token concatenation:
    * `(doc_id, nt, start, cum, c0, c1)` — global token offsets [start, cum)
    * and the first/last chunk index the document touches. Zero-token
    * documents contribute nothing and are dropped (they occupy no span).
    *
    * The global prefix sum is [[ScaleOps.rangedCumSum]] (range-partitioned
    * window + broadcast offsets) — NO partition-less window enters the
    * plan, so the packing order scales like q51's recovery (q172), not
    * like a global sort. Chunk indices use integer `div` on exact BIGINTs.
    */
  private[graft] def docSpansDf(docs: DataFrame): DataFrame = {
    val counted = docs
      .select(col("doc_id"),
        size(Portable.toks(col("text"))).cast("long").as("nt"))
      .filter(col("nt") > 0L)
    ScaleOps.rangedCumSum(counted, "doc_id",
        floor(col("doc_id").cast("double") / PackRange.toDouble),
        Seq("nt" -> "cum"))
      .withColumn("start", col("cum") - col("nt"))
      .withColumn("c0", expr(s"start div $PackLen"))
      .withColumn("c1", expr(s"(cum - 1) div $PackLen"))
  }

  /** q210: GPT-style sequence packing — concatenate every document's
    * tokens in doc_id order and cut the stream into fixed [[PackLen]]-token
    * training chunks. Output: one row per chunk — how many documents
    * contribute to it, the first/last contributing doc, its token count
    * (< [[PackLen]] only for the final partial chunk) and fill ratio. THE
    * batch-construction audit: `n_docs` > 1 rows are the chunks whose
    * attention window spans a document boundary (the cross-contamination
    * a packing run either masks or accepts), and the final row's fill is
    * the padding waste.
    *
    * Complements q83 ([[SamplingOps.packSequences]]), which assigns WHOLE
    * documents to per-source packs by start offset (no doc ever splits,
    * capacity is soft): this is the other canonical loader layout — hard
    * [[PackLen]] boundaries with documents SPLIT across chunk edges — and
    * it audits exactly what q83's layout avoids by construction (boundary
    * crossings) plus what it cannot see (padding fill).
    *
    * Scale shape: one narrow token-count scan; the global order is a
    * [[ScaleOps.rangedCumSum]] (range-partitioned windows + one broadcast
    * of catalog-sized range totals); each document then explodes into
    * (nt / PackLen + 2) chunk rows — linear in corpus tokens — and one
    * hash aggregation on chunk_id finishes. No global sort, no
    * partition-less window, no skew (chunk_ids are dense integers).
    *
    * Parity: every quantity is an exact BIGINT (token counts, integer-div
    * chunk ids); fill is one r4'd division.
    */
  def packChunks(spark: SparkSession, sfDir: String): DataFrame =
    packChunksDf(Tables.documents(spark, sfDir))

  private[graft] def packChunksDf(docs: DataFrame): DataFrame =
    // per-(doc, chunk) token contribution = overlap of the doc's global
    // span with the chunk's window, summed per chunk — n_tokens falls out
    // of the SAME aggregation as the doc counts (an earlier draft broadcast
    // the corpus token total and re-derived n_tokens from it, paying a
    // second whole-cumsum subplan for a number the contributions already
    // carry)
    docSpansDf(docs)
      .select(col("doc_id"), col("start"), col("cum"),
        explode(sequence(col("c0"), col("c1"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (least(col("cum"), (col("chunk_id") + 1L) * PackLen) -
          greatest(col("start"), col("chunk_id") * PackLen)).as("contrib"))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("contrib")).as("n_tokens"))
      .select(col("chunk_id"), col("n_docs"), col("first_doc"),
        col("last_doc"), col("n_tokens"),
        r4(col("n_tokens").cast("double") / PackLen.toDouble).as("fill"))

  /** q219: per-chunk attention-contamination mass — for every q210 chunk,
    * the number of CROSS-DOCUMENT token pairs its attention window
    * contains: with per-doc contributions c₁..cₖ summing to T, cross =
    * (T² − Σcᵢ²)/2 (and within = Σcᵢ(cᵢ−1)/2 for reference). This is the
    * quantity packing papers report when arguing for block-diagonal
    * attention masks: under plain concat-packing every cross pair lets a
    * document attend into its neighbors; a masked loader zeroes exactly
    * `cross` entries of each chunk's T×T attention matrix. The
    * contamination share (cross over all pairs) is the corpus-level
    * number that decides whether masking is worth its kernel cost.
    *
    * Scale shape: identical to q210 — the same explode feeds ONE hash
    * aggregation that now also carries Σcᵢ² (map-side combinable); no new
    * exchange.
    *
    * Parity: contributions are exact BIGINTs, the pair counts exact
    * integer arithmetic on them; share is one r4'd division (0.0 pinned
    * for the single-token chunk whose pair count is zero).
    */
  def packContamination(spark: SparkSession, sfDir: String): DataFrame =
    packContaminationDf(Tables.documents(spark, sfDir))

  private[graft] def packContaminationDf(docs: DataFrame): DataFrame =
    docSpansDf(docs)
      .select(col("doc_id"), col("start"), col("cum"),
        explode(sequence(col("c0"), col("c1"))).as("chunk_id"))
      .select(col("chunk_id"),
        (least(col("cum"), (col("chunk_id") + 1L) * PackLen) -
          greatest(col("start"), col("chunk_id") * PackLen)).as("contrib"))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("contrib")).as("t"),
        sum(col("contrib") * col("contrib")).as("sq"))
      .select(col("chunk_id"), col("n_docs"),
        col("t").as("n_tokens"),
        expr("(t * t - sq) div 2").as("cross_pairs"),
        expr("(sq - t) div 2").as("within_pairs"),
        r4(when(col("t") > 1L,
          (col("t") * col("t") - col("sq")).cast("double") /
            (col("t") * (col("t") - 1L)).cast("double")).otherwise(0.0))
          .as("cross_share"))

  // lazy: textually precedes spansSqlCte's initializer, which it embeds
  lazy val packContaminationSql: String =
    s"""$spansSqlCte,
       |touched AS (
       |  SELECT doc_id, start, cum, unnest(range(c0, c1 + 1)) AS chunk_id
       |  FROM sp),
       |contrib AS (
       |  SELECT chunk_id,
       |         (least(cum, (chunk_id + 1) * $PackLen)
       |          - greatest(start, chunk_id * $PackLen))::BIGINT AS c
       |  FROM touched),
       |g AS (
       |  SELECT chunk_id, count(*) AS n_docs,
       |         sum(c)::BIGINT AS t, sum(c * c)::BIGINT AS sq
       |  FROM contrib GROUP BY 1)
       |SELECT chunk_id, n_docs, t AS n_tokens,
       |       ((t * t - sq) // 2)::BIGINT AS cross_pairs,
       |       ((sq - t) // 2)::BIGINT AS within_pairs,
       |       CASE WHEN t > 1 THEN ${r4Sql(
             "(t * t - sq)::DOUBLE / (t * (t - 1))::DOUBLE")}
       |            ELSE 0.0 END AS cross_share
       |FROM g""".stripMargin

  /** Shared oracle CTE prefix: doc spans over the token concatenation. */
  private val spansSqlCte: String =
    s"""WITH d AS (
       |  SELECT doc_id, len(toks)::BIGINT AS nt
       |  FROM (SELECT doc_id, ${Portable.toksSql} AS toks FROM documents)
       |  WHERE len(toks) > 0),
       |s AS (
       |  SELECT doc_id, nt,
       |         sum(nt) OVER (ORDER BY doc_id
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           ::BIGINT AS cum
       |  FROM d),
       |sp AS (
       |  SELECT doc_id, nt, cum, (cum - nt)::BIGINT AS start,
       |         ((cum - nt) // $PackLen)::BIGINT AS c0,
       |         ((cum - 1) // $PackLen)::BIGINT AS c1
       |  FROM s)""".stripMargin

  val packChunksSql: String =
    s"""$spansSqlCte,
       |touched AS (
       |  SELECT doc_id, start, cum, unnest(range(c0, c1 + 1)) AS chunk_id
       |  FROM sp),
       |g AS (
       |  SELECT chunk_id, count(*) AS n_docs,
       |         min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |         sum(least(cum, (chunk_id + 1) * $PackLen)
       |             - greatest(start, chunk_id * $PackLen))::BIGINT
       |           AS n_tokens
       |  FROM touched GROUP BY 1)
       |SELECT chunk_id, n_docs, first_doc, last_doc, n_tokens,
       |       ${r4Sql(s"n_tokens::DOUBLE / $PackLen.0")} AS fill
       |FROM g""".stripMargin

  /** q211: per-document fragmentation under the q210 packing — for every
    * (non-empty) document: its token count, first chunk, how many chunks
    * it spans, whether it lands intact in a single chunk, and its offset
    * within its first chunk. The DOC-level readout of packing quality:
    * `intact` share is the fraction of documents whose attention window
    * never crosses a chunk edge, and `head_offset` is how much foreign
    * prefix the document sees — the two numbers a packing policy (plain
    * concat vs best-fit vs masked boundaries) is judged on.
    *
    * Scale shape: identical to q210 minus the explode — the ranged cumsum
    * plus one narrow projection; output is one row per document.
    *
    * Parity: all exact BIGINT arithmetic (integer div/mod on token
    * offsets); no floats at all.
    */
  def docFragmentation(spark: SparkSession, sfDir: String): DataFrame =
    docFragmentationDf(Tables.documents(spark, sfDir))

  private[graft] def docFragmentationDf(docs: DataFrame): DataFrame =
    docSpansDf(docs)
      .select(col("doc_id"), col("nt").as("n_tokens"),
        col("c0").as("first_chunk"),
        (col("c1") - col("c0") + 1L).as("n_chunks"),
        when(col("c1") === col("c0"), 1).otherwise(0).as("intact"),
        expr(s"start % $PackLen").as("head_offset"))

  val docFragmentationSql: String =
    s"""$spansSqlCte
       |SELECT doc_id, nt AS n_tokens, c0 AS first_chunk,
       |       (c1 - c0 + 1) AS n_chunks,
       |       (c1 = c0)::INT AS intact,
       |       start % $PackLen AS head_offset
       |FROM sp""".stripMargin

  // ------------------------------------------------ q220 padding audit

  /** q220: the padding-waste audit — the q183 discipline (price both
    * layouts WITHOUT materializing either) applied to the batching
    * decision. Three loader layouts over the same corpus, one row each:
    *
    *  - `concat`: q210's concat-then-chunk — zero per-doc padding, waste
    *    is only the final chunk's unfilled tail;
    *  - `pow2_buckets`: dynamic batching with power-of-two length
    *    buckets — each doc pads to the next power of two ≥ its length
    *    (the bucketed-batching rule of production inference/finetune
    *    loaders);
    *  - `pad_to_max`: naive fixed-shape batching — every doc pads to the
    *    corpus maximum.
    *
    * Output per strategy: real token mass, padded (materialized) mass,
    * and the waste share — the numbers that justify concat packing for
    * pretraining and bucketing for anything that cannot split documents.
    *
    * Scale shape: ONE narrow scan + one global aggregation (the pow2
    * ceiling is an integer array-min over a 63-element literal powers
    * table — no log2/pow transcendentals, no join); `pad_to_max` needs
    * the corpus max, a second scalar from the SAME aggregation. Three
    * result rows at any corpus size.
    *
    * Parity: all exact BIGINTs; shares r4'd.
    */
  def paddingAudit(spark: SparkSession, sfDir: String): DataFrame = {
    // powers to 2^62: a table capped lower (an earlier draft stopped at
    // 2^30) silently DROPS any longer document from the pow2 mass —
    // filter() yields an empty array, array_min NULL, and sum skips the
    // row with no error on either engine; 2^62 exceeds any BIGINT-counted
    // token length, so the corner cannot exist
    val powers = typedLit((0 to 62).map(i => 1L << i))
    val nt = size(Portable.toks(col("text"))).cast("long")
    val agg = Tables.documents(spark, sfDir)
      .select(nt.as("nt"))
      .filter(col("nt") > 0L)
      .select(col("nt"),
        array_min(filter(powers, p => p >= col("nt"))).as("p2"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("t"),
        sum(col("p2")).as("p2t"),
        max(col("nt")).as("mx"))
    val share = (pad: Column, t: Column) =>
      r4((pad - t).cast("double") / pad.cast("double"))
    val concatPad = expr(s"((t + $PackLen - 1) div $PackLen) * $PackLen")
    agg.select(
      explode(array(
        struct(lit("concat").as("strategy"), col("t"),
          concatPad.as("padded")),
        struct(lit("pow2_buckets").as("strategy"), col("t"),
          col("p2t").as("padded")),
        struct(lit("pad_to_max").as("strategy"), col("t"),
          (col("mx") * col("n_docs")).as("padded")))).as("s"))
      .select(col("s.strategy").as("strategy"),
        col("s.t").as("real_tokens"), col("s.padded").as("padded_tokens"),
        share(col("s.padded"), col("s.t")).as("waste_share"))
  }

  val paddingAuditSql: String = {
    val powers = (0 to 62).map(i => 1L << i).mkString("[", ", ", "]")
    s"""WITH d AS (
       |  SELECT len(toks)::BIGINT AS nt
       |  FROM (SELECT ${Portable.toksSql} AS toks FROM documents)
       |  WHERE len(toks) > 0),
       |a AS (
       |  SELECT count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS t,
       |         sum(list_min(list_filter($powers, p -> p >= nt)))::BIGINT
       |           AS p2t,
       |         max(nt)::BIGINT AS mx
       |  FROM d),
       |s(strategy, real_tokens, padded_tokens) AS (
       |  SELECT 'concat', t, ((t + $PackLen - 1) // $PackLen) * $PackLen
       |    FROM a
       |  UNION ALL SELECT 'pow2_buckets', t, p2t FROM a
       |  UNION ALL SELECT 'pad_to_max', t, mx * n_docs FROM a)
       |SELECT strategy, real_tokens, padded_tokens::BIGINT AS padded_tokens,
       |       ${r4Sql("(padded_tokens - real_tokens)::DOUBLE" +
             " / padded_tokens::DOUBLE")} AS waste_share
       |FROM s""".stripMargin
  }

  // ---------------------------------------------- q216 incremental packing

  /** Batch-membership modulus for the q216 gate's synthetic append:
    * doc_id ≡ 0 (mod 5) plays the newly-arrived delta (the q207/q113
    * convention).
    */
  val PackDeltaModulus = 5L

  /** q216: INCREMENTAL packing — the q113/q207 delta discipline applied
    * to the q210 layout. Given the corpus split into a BASE (already
    * packed and shipped to the trainer) and an appended DELTA, assign the
    * delta's documents to training chunks CONTINUING the base stream:
    * the first delta token lands exactly where the base's stream ended,
    * so already-materialized base chunks are never rewritten — only the
    * base's final partial chunk is completed (`fills_base_tail` marks
    * the delta docs that land in it). Output: one row per delta doc with
    * its chunk span under the incremental layout.
    *
    * Scale shape: the base collapses to ONE scalar (its token total —
    * in production read from the standing layout manifest, no base
    * re-scan; here one map-side-combinable agg), broadcast onto the
    * delta's [[ScaleOps.rangedCumSum]] — everything after is q211's
    * narrow projection over DELTA rows only. This is what makes daily
    * appends O(delta) instead of O(corpus).
    *
    * Parity: all exact BIGINT span arithmetic, as q210/q211.
    */
  def packDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isDelta = pmod(col("doc_id"), lit(PackDeltaModulus)) === 0L
    val counted = docs
      .select(col("doc_id"), isDelta.as("is_delta"),
        size(Portable.toks(col("text"))).cast("long").as("nt"))
      .filter(col("nt") > 0L)
    val baseTotal = counted.filter(!col("is_delta"))
      .agg(coalesce(sum(col("nt")), lit(0L)).as("b"))
    val deltaSpans = ScaleOps.rangedCumSum(
        counted.filter(col("is_delta")).select(col("doc_id"), col("nt")),
        "doc_id", floor(col("doc_id").cast("double") / PackRange.toDouble),
        Seq("nt" -> "dcum"))
      .crossJoin(broadcast(baseTotal))
      .withColumn("start", col("b") + col("dcum") - col("nt"))
      .withColumn("cum", col("b") + col("dcum"))
      .withColumn("c0", expr(s"start div $PackLen"))
      .withColumn("c1", expr(s"(cum - 1) div $PackLen"))
    deltaSpans.select(col("doc_id"), col("nt").as("n_tokens"),
      col("c0").as("first_chunk"),
      (col("c1") - col("c0") + 1L).as("n_chunks"),
      expr(s"start % $PackLen").as("head_offset"),
      (col("c0") === expr(s"b div $PackLen") &&
        expr(s"b % $PackLen") =!= 0L).cast("int").as("fills_base_tail"))
  }

  val packDeltaSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, (doc_id % $PackDeltaModulus = 0) AS is_delta,
       |         len(toks)::BIGINT AS nt
       |  FROM (SELECT doc_id, ${Portable.toksSql} AS toks FROM documents)
       |  WHERE len(toks) > 0),
       |base AS (
       |  SELECT coalesce(sum(nt), 0)::BIGINT AS b FROM d WHERE NOT is_delta),
       |s AS (
       |  SELECT doc_id, nt,
       |         sum(nt) OVER (ORDER BY doc_id
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           ::BIGINT AS dcum
       |  FROM d WHERE is_delta),
       |sp AS (
       |  SELECT doc_id, nt,
       |         (b + dcum - nt)::BIGINT AS start, (b + dcum)::BIGINT AS cum, b
       |  FROM s, base)
       |SELECT doc_id, nt AS n_tokens,
       |       (start // $PackLen)::BIGINT AS first_chunk,
       |       ((cum - 1) // $PackLen - start // $PackLen + 1)::BIGINT
       |         AS n_chunks,
       |       (start % $PackLen)::BIGINT AS head_offset,
       |       (start // $PackLen = b // $PackLen AND b % $PackLen != 0)::INT
       |         AS fills_base_tail
       |FROM sp""".stripMargin

  // --------------------------------------- q212/q213 per-source quota cap

  /** Per-source admission cap (documents kept per source). */
  val QuotaK = 20

  /** Synthetic mega-source frame for the quota-strategy SKEW
    * measurements (ModeBench's `quota_skew` sweep; the 50M-row walls in
    * BASELINE/README were measured on this same frame): one source holds
    * 80% of `n` rows, quality on the 1e-4 r4 grid (~400 tie rows per
    * (mega, cell) at n = 5M).
    */
  def skewedScoredFrame(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(5L)) =!= 0L, lit("mega"))
        .otherwise(concat(lit("s"), pmod(col("id"), lit(64L)))).as("source"),
      (pmod(col("id") * 2654435761L, lit(10000L)).cast("double") / 10000.0)
        .as("quality"))

  /** The scored frame all three quota forms rank: doc, source, r4'd q17
    * quality. */
  private[graft] def scoredDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        TextOps.qualityCol(col("text")).as("quality"))

  /** q212: per-source quality quota — keep at most [[QuotaK]] documents
    * per source, best q17 quality first (ties broken by doc_id), with the
    * within-source rank. The C4/RefinedWeb per-domain cap: a handful of
    * template-heavy domains otherwise dominate any crawl-scale corpus, so
    * admission is rationed per source rather than globally. Output: the
    * kept documents with their rank — the admission list a downstream
    * mixer consumes.
    *
    * Completes the top-K-per-group strategy triangle with q90
    * ([[SamplingOps.quotaSample]], a bounded-heap UDAF over a RANDOM hash
    * score — content-blind sampling) and q213 (the grid recovery): this
    * ranks by a MEASURED quality score and emits the rank a mixer's
    * priority order needs; the three share one output contract and q213
    * is gate-proven row-identical to this form.
    *
    * Scale shape (this, the WINDOW form): one narrow scoring scan, then a
    * row_number window PARTITIONED by source — each task sorts one
    * source's documents. Correct at any corpus size, but a single
    * mega-source (one domain with billions of rows) serializes its
    * partition — the documented q51/q29 degenerate class; q213 is the
    * ranged recovery, gate-verified against THIS query's oracle.
    *
    * Parity: quality is the shared r4'd q17 formula (bit-equal both
    * engines); rank is integer.
    */
  def sourceQuota(spark: SparkSession, sfDir: String): DataFrame =
    sourceQuotaDf(scoredDocs(spark, sfDir))

  private[graft] def sourceQuotaDf(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= QuotaK)
      .select(col("doc_id"), col("source"), col("quality"), col("rank"))
  }

  val sourceQuotaSql: String =
    s"""WITH q AS (
       |  SELECT doc_id, source, ${TextOps.qualitySqlExpr} AS quality
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source, quality,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY quality DESC, doc_id) AS rank
       |  FROM q)
       |SELECT doc_id, source, quality, rank::INT AS rank
       |FROM r WHERE rank <= $QuotaK""".stripMargin

  /** q213: the RANGED recovery of q212 — identical output (same oracle:
    * the q172/q174 discipline, so the hash match IS the row-identity
    * proof) without ever sorting a whole source in one task. Scheme:
    *
    *  1. collapse to (source, quality) CELL counts — quality lives on the
    *     r4 grid, so a source has at most ~10⁴ cells regardless of row
    *     count;
    *  2. per-source strict-prefix count over cells in quality-desc order
    *     (`cum_above`, a window over the CELL frame — partition size is
    *     grid-bounded, the q157/q199 dimension-grid discipline);
    *  3. only cells intersecting the top-K (`cum_above` < K) rejoin the
    *     doc frame; within each such cell, rank by doc_id via a window
    *     partitioned by (source, cell) — task size is one cell's
    *     occupancy, the tie mass, not the source;
    *  4. rank = cum_above + within-cell position; keep rank ≤ K.
    *
    * A mega-source costs one extra shuffle of its top-K-intersecting
    * cells only; the residual degenerate case is a single quality value
    * carrying more than ~task-size docs in one source (an all-identical
    * corpus slice), which exact-K-with-ties cannot avoid touching — and
    * which the cell prefilter has already cut to ONE cell's rows.
    */
  def rangedSourceQuota(spark: SparkSession, sfDir: String): DataFrame =
    rangedSourceQuotaDf(scoredDocs(spark, sfDir))

  /** q218: the BOUNDED-HEAP form of q212 — [[ScaleOps.topKPerGroup]]'s
    * k-element aggregator (the q90 machinery) over the same scored frame,
    * completing the gate-proven strategy triangle: all three forms
    * (window q212, grid q213, heap q218) hash-match ONE oracle, because
    * the aggregator's (−score, id) keep order IS q212's
    * (quality DESC, doc_id ASC). The heap never shuffles more than k
    * rows per (group, partition) — partial aggregation bounds the
    * exchange by design — at the price of an object-hash (non-codegen)
    * aggregate and a k-bounded sort per partial merge; ModeBench's
    * `quota_strategy` sweep records what each form pays at ×10 scale.
    */
  def heapSourceQuota(spark: SparkSession, sfDir: String): DataFrame =
    ScaleOps.topKPerGroup(scoredDocs(spark, sfDir),
        "source", "quality", "doc_id", QuotaK)
      .select(col("doc_id"), col("source"), col("quality"),
        col("rank").cast("int").as("rank"))

  private[graft] def rangedSourceQuotaDf(scored: DataFrame): DataFrame = {
    val cells = scored.groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("c"))
    val cellW = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cells
      .withColumn("cum_above", coalesce(sum(col("c")).over(cellW), lit(0L)))
      .filter(col("cum_above") < QuotaK.toLong)
      .select(col("source"), col("quality"), col("cum_above"))
    val inCellW = Window.partitionBy(col("source"), col("quality"))
      .orderBy(col("doc_id").asc)
    scored.join(offsets, Seq("source", "quality"))
      .withColumn("rank",
        (col("cum_above") + row_number().over(inCellW)).cast("int"))
      .filter(col("rank") <= QuotaK)
      .select(col("doc_id"), col("source"), col("quality"), col("rank"))
  }

  // ------------------------------------------- q227 training-shard shuffle

  /** Number of training shards the deterministic shuffle assigns documents
    * to. Production = number of data-loader workers × files per worker;
    * the audit's state is one row per shard at any corpus size.
    */
  val ShuffleShards = 16

  /** Salt prefixed to the doc key so the shuffle hash is independent of
    * every other portable-hash use of doc_id in the suite (same idea as a
    * per-epoch shuffle seed: change the salt, get a fresh permutation).
    */
  val ShuffleSalt = "shuf1:"

  /** q227: deterministic training-data shuffle — the 100 TB answer to
    * "globally shuffle the corpus before training". A global ORDER BY
    * rand() is a full sort of the corpus and is non-reproducible; the
    * scalable recipe is hash SHARDING: shard = h64(salt ‖ doc_id) mod S
    * assigns every document a pseudo-random shard in one stateless
    * projection, and the within-shard order is the same hash (the write
    * path sorts each shard partition by it — partitionBy(shard) +
    * sortWithinPartitions, never a global sort). Epochs re-salt.
    *
    * The published frame is the shuffle-quality AUDIT a pipeline gates
    * on: one row per shard with document/token mass (balance) and the
    * chi-square statistic of the shard's source composition against the
    * corpus-wide composition — a well-mixed shuffle makes every shard a
    * miniature of the corpus, so chi2 stays near its ~(n_sources−1)
    * expectation; a pathological key (e.g. sharding by source-correlated
    * doc_id ranges) blows it up by orders of magnitude.
    *
    * Scale shape: one hash aggregation to (shard, source) cells — at most
    * S × |catalog| rows — then a broadcast join against the per-source
    * corpus totals (catalog-sized) and one S-row rollup. Nothing
    * corpus-sized shuffles except the one stateless-keyed aggregation,
    * which is skew-proof by construction (the hash equidistributes).
    * Parity: shard ids and counts are exact integers; expected counts and
    * chi2 are exact integer ratios widened once, r4'd.
    */
  def shardShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(Portable.toks(col("text"))).cast("long").as("nt"),
        pmod(Portable.h64(concat(lit(ShuffleSalt),
          col("doc_id").cast("string"))), lit(ShuffleShards.toLong))
          .cast("int").as("shard"))
    val cells = docs.groupBy(col("shard"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("nt")).as("tok"))
    val srcTotals = cells.groupBy(col("source"))
      .agg(sum(col("n")).as("src_n"))
    val total = docs.agg(count(lit(1)).as("total_n"),
      sum(col("nt")).as("total_tok"))
    cells
      .join(broadcast(srcTotals), Seq("source"))
      .crossJoin(broadcast(total))
      .groupBy(col("shard"))
      .agg(
        sum(col("n")).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        max(col("total_tok")).as("total_tok"), // constant within the group
        // chi2 against the corpus source composition via the identity
        // sum (obs-exp)^2/exp = (sum obs^2/p_s)/shard_docs - shard_docs
        // (absent sources enter only through sum exp = shard_docs, so the
        // present-cell sum is complete). p_s = src_n/total_n exactly.
        r4(sum(col("n").cast("double") * col("n").cast("double") /
            (col("src_n").cast("double") / col("total_n").cast("double"))))
          .as("s2"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        r4(col("s2") / col("n_docs").cast("double") -
          col("n_docs").cast("double")).as("chi2"),
        // token mass vs a perfectly uniform shard (1.0 = exact balance)
        r4(col("n_tokens").cast("double") * ShuffleShards /
          col("total_tok").cast("double")).as("tok_ratio"))
  }

  // ------------------------------------- q242 chunk-level dedup survival

  /** q242: does dedup signal SURVIVE packing? Exact-duplicate DOCUMENTS
    * are easy to drop before packing (q20); once the corpus is
    * concat-packed into hard [[PackLen]]-token chunks (q210), the same
    * duplicated text usually straddles chunk boundaries at different
    * offsets, so chunk-level exact dedup (fingerprint the chunk's token
    * content) recovers almost none of it. This audit publishes both
    * rates side by side — document-level exact-dup rate vs full-chunk
    * exact-dup rate — the measured argument for ORDERING the pipeline
    * dedup-then-pack rather than hoping to dedup training sequences
    * later (the alignment lesson packing papers state and this frame
    * quantifies on the actual corpus: at sf0.1 eight exact-dup documents
    * exist and ZERO duplicate full chunks survive packing; the sf0.01
    * gate corpus has no exact doc dups, so both rates pin to 0 there —
    * the cross-engine algebra is still fully exercised).
    *
    * Scale shape: the q210 stream at token granularity — one token
    * explode carrying global offsets from the rangedCumSum spans, one
    * chunk-bounded aggregation (groups ≤ PackLen tokens) building each
    * chunk's content fingerprint, then two count-distincts. The
    * doc-level side is one md5 projection + distinct. No global sort;
    * chunk ids are dense integers.
    *
    * Parity: offsets/chunk ids exact integers; content fingerprints are
    * h64 over the space-joined token run in offset order on both
    * engines; the two rates r4'd exact ratios.
    */
  def chunkDedupSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"), Portable.toks(col("text")).as("ts"))
    val spans = docSpansDf(docs) // (doc_id, nt, start, cum, c0, c1)
      .select(col("doc_id"), col("start"))
    val pos = toks.join(spans, "doc_id")
      .select(col("start"), posexplode(col("ts")).as(Seq("i", "tok")))
      .select((col("start") + col("i")).as("pos"), col("tok")) // i is 0-based
    // NOT cpuBound (measured, r9): pinning the chunk agg's width saved
    // 0.8 s wall at sf1 but cost +73% task-seconds (the single-phase
    // aggregation the satisfied distribution plans falls back to
    // sort-based spills) — the cluster-cost lens says keep AQE's plan
    val chunks = pos
      .groupBy((col("pos") / lit(PackLen)).cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n"),
        Portable.h64(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ")).as("fp"))
    val chunkStats = chunks.filter(col("n") === PackLen)
      .agg(count(lit(1)).as("n_chunks_full"),
        count_distinct(col("fp")).as("n_distinct_chunks"))
    val docStats = docs
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(md5(col("text").cast("binary"))).as("n_distinct_docs"))
    chunkStats.crossJoin(broadcast(docStats))
      .select(col("n_chunks_full"), col("n_distinct_chunks"),
        (col("n_chunks_full") - col("n_distinct_chunks")).as("n_dup_chunks"),
        when(col("n_chunks_full") > 0L,
          r4((col("n_chunks_full") - col("n_distinct_chunks")).cast("double") /
            col("n_chunks_full").cast("double"))).otherwise(0.0)
          .as("chunk_dup_rate"),
        col("n_docs"), col("n_distinct_docs"),
        r4((col("n_docs") - col("n_distinct_docs")).cast("double") /
          col("n_docs").cast("double")).as("doc_dup_rate"))
  }

  val chunkDedupSurvivalSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Portable.toksSql} AS ts,
       |         len(${Portable.toksSql})::BIGINT AS nt
       |  FROM documents),
       |nz AS (SELECT * FROM t WHERE nt > 0),
       |c AS (
       |  SELECT doc_id, ts, nt,
       |         sum(nt) OVER (ORDER BY doc_id
       |                       ROWS UNBOUNDED PRECEDING) - nt AS start
       |  FROM nz),
       |pos AS (
       |  SELECT (start + i - 1) AS pos, ts[i] AS tok
       |  FROM c, LATERAL (SELECT unnest(range(1, nt + 1)) AS i) r),
       |ch AS (
       |  SELECT pos // $PackLen AS chunk_id, count(*)::BIGINT AS n,
       |         ${Portable.h64Sql(
          "string_agg(tok, ' ' ORDER BY pos)")} AS fp
       |  FROM pos GROUP BY 1),
       |cs AS (
       |  SELECT count(*)::BIGINT AS n_chunks_full,
       |         count(DISTINCT fp)::BIGINT AS n_distinct_chunks
       |  FROM ch WHERE n = $PackLen),
       |ds AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |         count(DISTINCT md5(text))::BIGINT AS n_distinct_docs
       |  FROM documents)
       |SELECT n_chunks_full, n_distinct_chunks,
       |       (n_chunks_full - n_distinct_chunks)::BIGINT AS n_dup_chunks,
       |       CASE WHEN n_chunks_full > 0 THEN ${r4Sql(
          "(n_chunks_full - n_distinct_chunks)::DOUBLE / n_chunks_full::DOUBLE")}
       |            ELSE 0.0 END AS chunk_dup_rate,
       |       n_docs, n_distinct_docs,
       |       ${r4Sql("(n_docs - n_distinct_docs)::DOUBLE / n_docs::DOUBLE")}
       |         AS doc_dup_rate
       |FROM cs, ds""".stripMargin

  // --------------------------------------- q236 span-corruption audit

  /** Target corruption rate and mean span length of the denoising
    * objective (T5's 15% / mean-3 defaults, Raffel et al. 2020 §3.1.4).
    */
  val CorruptRate = 0.15
  val CorruptMeanSpan = 3

  /** Span-start probability in ppm: rate / meanSpan starts per eligible
    * position makes the EXPECTED masked fraction ≈ rate before overlap
    * merging.
    */
  val CorruptStartPpm: Long = (CorruptRate / CorruptMeanSpan * 1e6).round

  /** Span length support: 1 .. 2·mean − 1 uniform (mean = CorruptMeanSpan). */
  val CorruptSpanMod: Long = 2L * CorruptMeanSpan - 1

  /** q236: span-corruption planning audit — T5-style denoising
    * pretraining masks random token SPANS (not i.i.d. tokens); a 100 TB
    * pipeline wants the masks DETERMINISTIC (reproducible across reruns
    * and engines — same portable-hash-coin discipline as the q39/q84
    * samplers) and audited BEFORE training: overlap merging makes the
    * realized corruption rate and span statistics drift from the
    * nominal knobs, and this frame measures exactly that drift. Per
    * language: token mass, masked-token mass, the realized rate next to
    * the [[CorruptRate]] target, and the mean MERGED span length next
    * to [[CorruptMeanSpan]] (merged spans run longer than drawn spans —
    * the consecutive-sentinel effect the T5 paper's objective actually
    * trains on).
    *
    * Mechanics: position i of a document starts a span when its hash
    * coin lands under [[CorruptStartPpm]]; the span's drawn length is
    * 1 + h mod [[CorruptSpanMod]] (uniform, mean = the knob), clamped
    * to the document end; overlapping/adjacent draws merge by the q169
    * island rule (prefix-max of interval ends, windows partitioned BY
    * DOCUMENT — task work bounded by document length, never corpus).
    *
    * Scale shape: one position explode (corpus-token-linear, the q210
    * stream), a ppm filter that keeps ~rate/meanSpan of it, doc-bounded
    * island windows over the surviving starts, and two hash aggs up to
    * the |langs| output. Parity: coins, lengths, and island arithmetic
    * are exact integers; the two published ratios divide once, r4'd.
    */
  def spanCorruption(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(Portable.toks(col("text"))).cast("long").as("nt"))
      .filter(col("nt") > 0L)
    val pos = docs.select(col("doc_id"), col("nt"),
      explode(sequence(lit(1L), col("nt"))).as("i"))
    val starts = pos
      .filter(pmod(Portable.h32(concat(lit("corrupt_"),
        col("doc_id").cast("string"), lit(":"), col("i").cast("string"))),
        lit(1000000L)) < CorruptStartPpm)
      .select(col("doc_id"), col("i").as("s"),
        least(col("nt"),
          col("i") + pmod(Portable.h32(concat(lit("span_"),
            col("doc_id").cast("string"), lit(":"), col("i").cast("string"))),
            lit(CorruptSpanMod))).as("e"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val prevMax = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val islands = starts
      .withColumn("pm", max(col("e")).over(prevMax))
      .withColumn("b",
        when(col("pm").isNull || col("s") > col("pm") + 1L, 1L).otherwise(0L))
      .withColumn("g", sum(col("b")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("g"))
      .agg((max(col("e")) - min(col("s")) + 1L).as("masked"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("masked")).as("n_masked"))
    docs.join(islands, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(coalesce(col("n_masked"), lit(0L))).as("n_masked"),
        sum(coalesce(col("n_spans"), lit(0L))).as("n_spans"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_masked"),
        col("n_spans"),
        r4(col("n_masked").cast("double") / col("n_tokens").cast("double"))
          .as("realized_rate"),
        when(col("n_spans") > 0L,
          r4(col("n_masked").cast("double") / col("n_spans").cast("double")))
          .otherwise(0.0).as("mean_merged_span"))
  }

  val spanCorruptionSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, len(${Portable.toksSql})::BIGINT AS nt
       |  FROM documents),
       |d1 AS (SELECT * FROM d WHERE nt > 0),
       |pos AS (
       |  SELECT doc_id, nt, unnest(range(1, nt + 1)) AS i FROM d1),
       |st AS (
       |  SELECT doc_id, i AS s,
       |         least(nt, i + (${Portable.h32Sql(
            "'span_' || doc_id::VARCHAR || ':' || i::VARCHAR")})
       |           % $CorruptSpanMod) AS e
       |  FROM pos
       |  WHERE (${Portable.h32Sql(
            "'corrupt_' || doc_id::VARCHAR || ':' || i::VARCHAR")})
       |        % 1000000 < $CorruptStartPpm),
       |brk AS (
       |  SELECT doc_id, s, e,
       |         max(e) OVER (PARTITION BY doc_id ORDER BY s
       |                      ROWS BETWEEN UNBOUNDED PRECEDING
       |                      AND 1 PRECEDING) AS pm
       |  FROM st),
       |isl AS (
       |  SELECT doc_id, s, e,
       |         sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY s
       |                 ROWS UNBOUNDED PRECEDING) AS g
       |  FROM brk),
       |mk AS (
       |  SELECT doc_id, g, max(e) - min(s) + 1 AS masked
       |  FROM isl GROUP BY 1, 2),
       |pd AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_spans,
       |         sum(masked)::BIGINT AS n_masked
       |  FROM mk GROUP BY 1),
       |g AS (
       |  SELECT d1.lang, count(*)::BIGINT AS n_docs,
       |         sum(d1.nt)::BIGINT AS n_tokens,
       |         sum(coalesce(pd.n_masked, 0))::BIGINT AS n_masked,
       |         sum(coalesce(pd.n_spans, 0))::BIGINT AS n_spans
       |  FROM d1 LEFT JOIN pd USING (doc_id)
       |  GROUP BY 1)
       |SELECT lang, n_docs, n_tokens, n_masked, n_spans,
       |       ${r4Sql("n_masked::DOUBLE / n_tokens::DOUBLE")}
       |         AS realized_rate,
       |       CASE WHEN n_spans > 0
       |            THEN ${r4Sql("n_masked::DOUBLE / n_spans::DOUBLE")}
       |            ELSE 0.0 END AS mean_merged_span
       |FROM g""".stripMargin

  val shardShuffleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         len(${Portable.toksSql})::BIGINT AS nt,
       |         (((${Portable.h64Sql(s"'$ShuffleSalt' || doc_id::VARCHAR")})
       |            % $ShuffleShards + $ShuffleShards) % $ShuffleShards)::INT
       |           AS shard
       |  FROM documents),
       |cells AS (
       |  SELECT shard, source, count(*)::BIGINT AS n, sum(nt)::BIGINT AS tok
       |  FROM d GROUP BY 1, 2),
       |st AS (SELECT source, sum(n)::BIGINT AS src_n FROM cells GROUP BY 1),
       |tt AS (SELECT count(*)::BIGINT AS total_n, sum(nt)::BIGINT AS total_tok
       |       FROM d),
       |g AS (
       |  SELECT shard, sum(n)::BIGINT AS n_docs, sum(tok)::BIGINT AS n_tokens,
       |         max(tt.total_tok) AS total_tok,
       |         ${r4Sql(
            "sum(n::DOUBLE * n::DOUBLE / (st.src_n::DOUBLE / tt.total_n::DOUBLE))")}
       |           AS s2
       |  FROM cells JOIN st USING (source), tt
       |  GROUP BY 1)
       |SELECT shard, n_docs, n_tokens,
       |       ${r4Sql("s2 / n_docs::DOUBLE - n_docs::DOUBLE")} AS chi2,
       |       ${r4Sql(
          s"n_tokens::DOUBLE * $ShuffleShards / total_tok::DOUBLE")} AS tok_ratio
       |FROM g""".stripMargin
}
