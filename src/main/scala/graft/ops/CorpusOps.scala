package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpointing.LineageSyntax
import graft.Tables

/** Corpus-curation operators beyond the per-document scoring in
  * [[TextOps]]: distribution-adaptive filtering, retrieval chunking, and
  * information-theoretic quality signals — the second wave of what a
  * 100 TB training-data pipeline runs between raw crawl and tokenizer.
  *
  * Same portability regime as the rest of the suite: shared Scala
  * constants generate both the Spark plan and the DuckDB oracle SQL, float
  * comparisons happen only on r4-rounded values, and anything summed
  * across an unordered group is integer-scaled first so the sum is exact
  * and associative on any engine at any partitioning.
  */
object CorpusOps {

  private def r4(c: Column): Column = Portable.r4(c)
  private def r4Sql(x: String) = Portable.r4Sql(x)

  // ------------------------------------------------ q105 adaptive quality

  /** Quantile of the per-language quality distribution used as the keep
    * threshold (docs at or above their language's q25 survive).
    */
  val AdaptivePct = 0.25

  /** q105: distribution-adaptive quality filtering — instead of one global
    * cutoff (q100's fixed [[CurationPipeline.QualityMin]]), each language
    * keeps documents at or above its own 25th quality percentile. A fixed
    * global threshold silently biases a multilingual corpus: languages
    * whose surface statistics score low (different stopword density,
    * punctuation conventions) would be over-filtered; per-group quantile
    * cutoffs are the standard fix (what CCNet-style pipelines do with
    * per-language perplexity buckets).
    *
    * Scale shape: two aggregations over one scan of the scored projection
    * — the cut table is one row per language, broadcast back onto the
    * scored rows; no window, no sort of the corpus. Parity: quality is the
    * q17 kernel (r4-rounded), the cut is r4-rounded once, and the keep
    * comparison sees two identical doubles on both engines (the q86
    * winsorize precedent: Spark `percentile` ≡ DuckDB `quantile_cont`).
    */
  def adaptiveQuality(spark: SparkSession, sfDir: String): DataFrame = {
    // the cut aggregation and the keep-count join both consume the scored
    // projection; quality is the (expensive) stopword-HOF kernel — cache()
    // shares one scan+score between the consumers (soft pin, LRU-evictable)
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        TextOps.qualityCol(col("text")).as("quality"))
      .cache()
    val cuts = scored.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        r4(Quantiles.pct(spark, col("quality"), AdaptivePct)).as("cutoff"))
    scored.join(broadcast(cuts), "lang")
      .groupBy(col("lang"))
      .agg(
        max(col("n_docs")).as("n_docs"), // constant within the group
        max(col("cutoff")).as("cutoff"),
        sum((col("quality") >= col("cutoff")).cast("long")).as("n_kept"))
  }

  val adaptiveQualitySql: String =
    s"""WITH s AS (
       |  SELECT doc_id, lang, ${TextOps.qualitySqlExpr} AS quality
       |  FROM documents),
       |c AS (
       |  SELECT lang, count(*) AS n_docs,
       |         ${r4Sql(s"quantile_cont(quality, $AdaptivePct)")} AS cutoff
       |  FROM s GROUP BY 1)
       |SELECT s.lang, max(c.n_docs) AS n_docs, max(c.cutoff) AS cutoff,
       |       sum((s.quality >= c.cutoff)::INT)::BIGINT AS n_kept
       |FROM s JOIN c USING (lang)
       |GROUP BY 1""".stripMargin

  // ------------------------------------------- q205 perplexity buckets

  /** Tercile fractions of the per-language NLL distribution (one Scala
    * constant interpolated into both plans — the q105 cutoff precedent).
    */
  val CcnetLow: Double = 1.0 / 3
  val CcnetHigh: Double = 2.0 / 3

  /** q205: CCNet-style perplexity bucketing (Wenzek et al. 2020) — shard
    * every language's documents into head/middle/tail terciles of the
    * q103 bigram-LM negative log-likelihood, reporting per (lang, bucket)
    * document and token mass. THE published recipe for
    * perplexity-stratified corpus releases: the head is the
    * cleanest-by-LM slice a pretraining mix oversamples, the tail is
    * what gets dropped or demoted; emitting the token mass per bucket is
    * what lets a mixture schedule (q133) consume the sharding directly.
    * Documents with no bigram (< 2 tokens) have no LM score and are
    * excluded, exactly as in q103.
    *
    * Scale shape: q103's two hash aggregations + scoring join dominate;
    * the cut table is one row per LANGUAGE (two r4'd quantiles via the
    * [[Quantiles]] mode switch — `graft.quantiles.mode=approx` swaps in
    * the mergeable sketch at scale), broadcast back; the bucket label is
    * a narrow comparison; final agg is ≤ 3·|langs| cells. Parity: NLL is
    * q103's r4'd value, cuts r4'd once, bucket comparisons see identical
    * doubles on both engines.
    */
  def perplexityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    // r16: lineageCheckpoint, not cache() — same LRU-eviction recompute
    // as q228 (the cut aggregation and the bucket join both re-ran the
    // q103 scoring pass when the soft pin was evicted mid-suite; ~6 s of
    // steady task vs ~1 s isolated). Doc-level narrow frame, eager once.
    val scored = TextOps.perplexity(spark, sfDir)
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"),
          size(Portable.toks(col("text"))).cast("long").as("n_tok")),
        "doc_id")
      .lineageCheckpoint()
    val cuts = scored.groupBy(col("lang"))
      .agg(r4(Quantiles.pct(spark, col("nll"), CcnetLow)).as("c1"),
        r4(Quantiles.pct(spark, col("nll"), CcnetHigh)).as("c2"))
    scored.join(broadcast(cuts), "lang")
      .select(col("lang"),
        when(col("nll") <= col("c1"), "head")
          .when(col("nll") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"),
        col("n_tok"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  val perplexityBucketsSql: String =
    s"""WITH p AS (${TextOps.perplexitySql.replace("\n", "\n  ")}),
       |s AS (
       |  SELECT p.doc_id, d.lang, len(${Portable.toksSql})::BIGINT AS n_tok,
       |         p.nll
       |  FROM p JOIN documents d USING (doc_id)),
       |c AS (
       |  SELECT lang,
       |         ${r4Sql(s"quantile_cont(nll, $CcnetLow)")} AS c1,
       |         ${r4Sql(s"quantile_cont(nll, $CcnetHigh)")} AS c2
       |  FROM s GROUP BY 1)
       |SELECT s.lang,
       |       CASE WHEN s.nll <= c.c1 THEN 'head'
       |            WHEN s.nll <= c.c2 THEN 'middle'
       |            ELSE 'tail' END AS bucket,
       |       count(*) AS n_docs, sum(s.n_tok)::BIGINT AS n_tokens
       |FROM s JOIN c USING (lang)
       |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------- q106 RAG chunking

  /** Chunk capacity and stride in tokens (overlap = len − stride = 32). */
  val ChunkLen = 128
  val ChunkStride = 96

  /** q106: overlapping-window chunking — split every document into
    * [[ChunkLen]]-token windows advancing by [[ChunkStride]] tokens (32
    * tokens of overlap), the layout a RAG/embedding pipeline feeds to its
    * encoder so no sentence is cut without context on either side. Emits
    * one row per chunk: index, token count, and the first token (a cheap
    * checksum of WHERE the window landed — verifying boundaries, not just
    * counts).
    *
    * Chunk count is exact integer math shared with the oracle:
    * `max(1, ceil((n − overlap) / stride))` — an empty/short document is
    * one (possibly short) chunk, never zero rows, so the output is a
    * partition of the corpus. Scale shape: narrow generate — tokenize
    * once, explode a ≤n/stride-element index range, slice the materialized
    * token array (NOT a re-tokenization per chunk — the HOF-capture trap);
    * no shuffle anywhere, output rows ∝ corpus tokens / stride.
    */
  def chunkOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val overlap = ChunkLen - ChunkStride
    val t = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Portable.toks(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      // numerator n − overlap + stride − 1 is ≥ stride − 1 − overlap ≥ 0 for
      // every n ≥ 0, so truncating div ≡ floor div on both engines
      .withColumn("nc",
        greatest(lit(1), expr(s"(n - $overlap + $ChunkStride - 1) div $ChunkStride")))
    t.select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("nc") - 1)).as("k"))
      .select(
        col("doc_id"),
        col("k").cast("int").as("chunk_idx"),
        size(slice(col("toks"), col("k") * ChunkStride + 1, lit(ChunkLen)))
          .as("n_tok"),
        get(col("toks"), col("k") * ChunkStride).as("head_tok"))
  }

  val chunkOverlapSql: String = {
    val overlap = ChunkLen - ChunkStride
    s"""WITH t0 AS (SELECT doc_id, ${Portable.toksSql} AS toks FROM documents),
       |t AS (SELECT doc_id, toks, len(toks) AS n,
       |             greatest(1, (len(toks) - $overlap + $ChunkStride - 1) // $ChunkStride) AS nc
       |      FROM t0),
       |e AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS k FROM t)
       |SELECT doc_id, k::INT AS chunk_idx,
       |       len(list_slice(toks, k * $ChunkStride + 1,
       |                      k * $ChunkStride + $ChunkLen))::INT AS n_tok,
       |       toks[k * $ChunkStride + 1] AS head_tok
       |FROM e""".stripMargin
  }

  // ------------------------------------------------- q109 char entropy

  /** Fixed-point scale for the per-character ln terms (parts per 1e9). */
  val EntropyScale = 1000000000L

  /** q109: character-entropy quality signal — Shannon entropy (nats) of
    * the letter distribution per document, the compressibility heuristic
    * curation stacks use to drop keyboard-mash / template / repeated-char
    * documents (low entropy) without any model. Letters only ([A-Za-z],
    * case-folded): a 26-symbol alphabet both engines agree on byte-for-byte.
    *
    * Parity: H = ln(T) − (Σ cᵢ·ln cᵢ)/T is computed with the ln-terms
    * floor-scaled to integer parts-per-1e9 BEFORE the per-document sum, so
    * the only cross-engine float operations are on deterministic per-GROUP
    * scalars (ln of an exact integer count) — never an unordered float sum.
    *
    * Scale shape: ONE narrow map — the native codegen'd `LetterStats`
    * expression (graft.functions) computes both moments (T, Σ cᵢ·⌊1e9 ln
    * cᵢ+½⌋) from a stack 26-counter histogram in a single pass: no
    * explode, no join, no shuffle anywhere (the explode + two-agg
    * formulation this replaced shuffled the corpus's letter stream; the
    * oracle SQL keeps that form and CorpusOpsSpec pins the equivalence).
    */
  def charEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    require(graft.functions.PortableHash.EntropyScale == EntropyScale,
      "native kernel and oracle constant diverged")
    val st = graft.functions.chess.letterStats(col("text"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        st.getField("t").as("t"), st.getField("s").as("s"))
      .select(
        col("doc_id"), col("t").as("n_letters"),
        when(col("t") === 0L, lit(0.0))
          .otherwise(r4(
            log(col("t").cast("double")) -
              col("s").cast("double") / (col("t").cast("double") * EntropyScale)))
          .as("entropy"))
  }

  val charEntropySql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         lower(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS letters
       |  FROM documents),
       |cnt AS (
       |  SELECT doc_id, ch, count(*) AS c
       |  FROM (SELECT doc_id, unnest(string_split(letters, '')) AS ch FROM d)
       |  WHERE ch <> ''
       |  GROUP BY 1, 2),
       |st AS (
       |  SELECT doc_id, sum(c)::BIGINT AS t,
       |         sum(c * floor(ln(c::DOUBLE) * $EntropyScale + 0.5)::BIGINT)::BIGINT AS s
       |  FROM cnt GROUP BY 1)
       |SELECT d.doc_id, length(letters)::BIGINT AS n_letters,
       |       CASE WHEN t IS NULL THEN 0.0
       |            ELSE ${r4Sql(s"ln(t::DOUBLE) - s::DOUBLE / (t::DOUBLE * $EntropyScale)")}
       |       END AS entropy
       |FROM d LEFT JOIN st USING (doc_id)""".stripMargin

  // ------------------------------------------------ q118 length buckets

  /** Bucket capacities (tokens) for length-grouped batching — power-of-two
    * ladder, the standard padded-batch geometry. A doc longer than the top
    * capacity is "oversize": it pads to nothing (cap = own length) because
    * a real pipeline routes it to the chunker (q106), not a batch.
    */
  val LenBuckets: Seq[Int] = Seq(16, 32, 64, 128, 256, 512)

  /** q118: length-bucketed batching report — assign every document to the
    * smallest power-of-two token capacity that holds it and report, per
    * bucket: population, real token mass, padding mass (capacity − length,
    * what a padded inference/training batch burns as wasted FLOPs), and
    * the padding fraction. This is the serving-side dual of q83's
    * first-fit packing: packing eliminates padding by concatenation,
    * bucketing bounds it by geometry — pipelines run one or the other
    * before any GPU touches the data.
    *
    * Scale shape: ONE narrow map (tokenize → count → CASE ladder) and one
    * ≤|buckets|+1-group aggregation with map-side combine; no join, no
    * window, no shuffle beyond the tiny group combine. All mass columns
    * are exact integers; the only float is the final r4 ratio of two
    * exact BIGINTs (bit-identical on both engines).
    */
  def lengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val n = size(Portable.toks(col("text")))
    val cap = LenBuckets.reverse.foldLeft(n: Column) { (acc, b) =>
      when(n <= b, lit(b)).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .select(n.as("n"), cap.as("bucket_cap"))
      .groupBy(col("bucket_cap").cast("int").as("bucket_cap"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n").cast("long")).as("token_mass"),
        sum((col("bucket_cap") - col("n")).cast("long")).as("padding_mass"))
      .select(col("bucket_cap"), col("n_docs"), col("token_mass"),
        col("padding_mass"),
        r4(col("padding_mass").cast("double") /
          (col("padding_mass") + col("token_mass")).cast("double"))
          .as("waste_frac"))
  }

  val lengthBucketsSql: String = {
    val cap = LenBuckets.map(b => s"WHEN n <= $b THEN $b").mkString(" ")
    s"""WITH t AS (
       |  SELECT len(${Portable.toksSql}) AS n FROM documents),
       |b AS (SELECT n, (CASE $cap ELSE n END)::INT AS bucket_cap FROM t),
       |g AS (
       |  SELECT bucket_cap, count(*) AS n_docs,
       |         sum(n)::BIGINT AS token_mass,
       |         sum(bucket_cap - n)::BIGINT AS padding_mass
       |  FROM b GROUP BY 1)
       |SELECT bucket_cap, n_docs, token_mass, padding_mass,
       |       ${r4Sql("padding_mass::DOUBLE / (padding_mass + token_mass)::DOUBLE")} AS waste_frac
       |FROM g""".stripMargin
  }

  // --------------------------------------------------- q123 novelty score

  /** q123: shingle-novelty scoring — the fraction of each document's
    * distinct 3-gram shingles that appear in NO other document. The
    * data-mixing dual of q72's boilerplate report: boilerplate finds the
    * shingles everyone shares, novelty scores who contributes content
    * nobody else has (upweighted in curation mixes; a 0.0-novelty doc is
    * fully reconstructible from the rest of the corpus).
    *
    * Scale shape: one inverted-index aggregation (shingle → document
    * frequency) and one equi-join of the exploded postings back onto the
    * df table, then a per-doc rollup — exactly the q21 index cost, no
    * pair fan-out at all (df is consumed as a scalar per posting, so even
    * a corpus-wide boilerplate shingle is ONE group and a linear probe,
    * no MaxPostings needed). Zero-shingle docs re-enter via a left join
    * with novelty 0.0 so the output stays a partition of the corpus.
    */
  def noveltyScore(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.chess.shingleHashes(col("text")).as("shingles"))
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    val df = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val agg = ex.join(df, "s")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum((col("df") === 1).cast("long")).as("n_novel"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_shingles").isNull, lit(0.0))
          .otherwise(r4(col("n_novel").cast("double") / col("n_shingles")))
          .as("novelty"))
  }

  val noveltyScoreSql: String =
    s"""WITH sh AS (${Dedup.shinglesSql}),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |df AS (SELECT s, count(*) AS df FROM ex GROUP BY 1),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_shingles,
       |         sum((df = 1)::INT)::BIGINT AS n_novel
       |  FROM ex JOIN df USING (s)
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |       coalesce(a.n_shingles, 0)::BIGINT AS n_shingles,
       |       coalesce(a.n_novel, 0)::BIGINT AS n_novel,
       |       CASE WHEN a.n_shingles IS NULL THEN 0.0
       |            ELSE ${r4Sql("a.n_novel::DOUBLE / a.n_shingles")} END AS novelty
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  // ------------------------------------------------ q137 rule-based gating

  /** Gopher-style heuristic gate thresholds (Rae et al. 2021 §A1.1 shape,
    * re-tuned to the synthetic corpus): token-count window, mean-token-
    * length window, symbol-character ceiling, minimum stopword evidence,
    * minimum alphabetic-token share. One list, both engines.
    */
  val GopherMinTokens = 10
  val GopherMaxTokens = 10000
  val GopherMinMeanTokLen = 3.0
  val GopherMaxMeanTokLen = 10.0
  val GopherMaxSymbolRatio = 0.10
  val GopherMinStopHits = 2
  val GopherMinAlphaRatio = 0.80

  /** q137: rule-based quality gating — the classic Gopher/C4 heuristic
    * filter bank as ONE narrow projection: per document, each rule's
    * measured statistic plus the composite keep decision. q17/q105 score
    * and threshold a single scalar; this is the orthogonal industry
    * baseline (hard per-rule gates), and emitting the per-rule measurements
    * (not just the verdict) is what lets a pipeline owner audit WHICH rule
    * is responsible for the kill rate.
    *
    * Scale shape: a single scan with built-in string/HOF expressions —
    * no shuffle, no UDF, fully pipelined into whole-stage codegen; at
    * 100 TB this runs at scan speed like q16–q19.
    *
    * Parity: every ratio is r4-floor-rounded BEFORE the threshold
    * comparison, so both engines gate on identical doubles (the q105
    * cutoff precedent); token and character counts are exact integers.
    */
  /** The five Gopher rule statistics as columns over `text` — single
    * source of truth for [[gopherRules]] and the column-level consumers
    * (r16: q157 computes `keep` in the same projection as the quality
    * score instead of joining two corpus scans).
    */
  private def gopherStatExprs(text: Column): Seq[Column] = {
    // native tok_stats (r16, guide §4.1): token count, stopword hits and
    // letter-bearing tokens in ONE compiled pass — the two interpreted
    // filter(toks, …) HOFs ran their lambdas per element, and the token
    // array itself no longer materializes
    val ts = graft.functions.chess.tokStats(text)
    val nTok = ts.getField("n_tok")
    val meanTokLen = r4(when(nTok > 0,
      length(regexp_replace(text, "\\s+", "")).cast("double") /
        nTok.cast("double")).otherwise(lit(0.0)))
    val symbolRatio = r4(when(length(text) > 0,
      length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
        length(text).cast("double")).otherwise(lit(0.0)))
    val stopHits = ts.getField("n_stop")
    val alphaRatio = r4(when(nTok > 0,
      ts.getField("n_alpha").cast("double") /
        nTok.cast("double")).otherwise(lit(0.0)))
    Seq(nTok, meanTokLen, symbolRatio, stopHits, alphaRatio)
  }

  private def gopherStatCols(text: Column): Seq[Column] =
    gopherStatExprs(text).zip(Seq("n_tokens", "mean_tok_len",
      "symbol_ratio", "stop_hits", "alpha_ratio")).map {
      case (c, n) => c.as(n)
    }

  /** The Gopher keep decision as a single self-contained expression over
    * `text` — the exact rule bank of [[gopherRules]] applied to the exact
    * [[gopherStatExprs]] statistics, for consumers that need the flag
    * INLINE in another scan's projection (r16: q198 computes it next to
    * the token explode instead of joining a second gopherRules corpus
    * scan on the doc spine).
    */
  private[ops] def gopherKeepCol(text: Column): Column = {
    val Seq(nTok, meanTokLen, symbolRatio, stopHits, alphaRatio) =
      gopherStatExprs(text)
    (nTok.between(GopherMinTokens, GopherMaxTokens) &&
      meanTokLen.between(GopherMinMeanTokLen, GopherMaxMeanTokLen) &&
      symbolRatio <= GopherMaxSymbolRatio &&
      stopHits >= GopherMinStopHits &&
      alphaRatio >= GopherMinAlphaRatio).cast("int")
  }

  /** The composite Gopher keep decision over the five stat columns (must
    * be applied to the ALIASED outputs of [[gopherStatCols]]).
    */
  private def gopherKeep: Column =
    (col("n_tokens").between(GopherMinTokens, GopherMaxTokens) &&
      col("mean_tok_len").between(GopherMinMeanTokLen, GopherMaxMeanTokLen) &&
      col("symbol_ratio") <= GopherMaxSymbolRatio &&
      col("stop_hits") >= GopherMinStopHits &&
      col("alpha_ratio") >= GopherMinAlphaRatio).cast("int")

  def gopherRules(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsPar(spark, sfDir)
      .select(col("doc_id") +: gopherStatCols(col("text")): _*)
      .select(col("*"), gopherKeep.as("keep"))

  val gopherRulesSql: String = {
    val stopList = TextOps.Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, text, ${Portable.toksSql} AS toks FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    len(toks)::INT AS n_tokens,
       |    CASE WHEN len(toks) > 0 THEN ${r4Sql(
           """length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
              | / len(toks)::DOUBLE""".stripMargin)}
       |         ELSE 0.0 END AS mean_tok_len,
       |    CASE WHEN length(text) > 0 THEN ${r4Sql(
           """length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE
              | / length(text)::DOUBLE""".stripMargin)}
       |         ELSE 0.0 END AS symbol_ratio,
       |    len(list_filter(toks, x -> list_contains($stopList, x)))::INT AS stop_hits,
       |    CASE WHEN len(toks) > 0 THEN ${r4Sql(
           """len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
              | / len(toks)::DOUBLE""".stripMargin)}
       |         ELSE 0.0 END AS alpha_ratio
       |  FROM t)
       |SELECT doc_id, n_tokens, mean_tok_len, symbol_ratio, stop_hits, alpha_ratio,
       |  (n_tokens BETWEEN $GopherMinTokens AND $GopherMaxTokens
       |   AND mean_tok_len BETWEEN $GopherMinMeanTokLen AND $GopherMaxMeanTokLen
       |   AND symbol_ratio <= $GopherMaxSymbolRatio
       |   AND stop_hits >= $GopherMinStopHits
       |   AND alpha_ratio >= $GopherMinAlphaRatio)::INT AS keep
       |FROM m""".stripMargin
  }

  // ------------------------------------------------ q143 KL divergence

  /** Vocabulary cap for the KL cell grid (top terms by corpus frequency,
    * ties broken by term — the q102 cap discipline).
    */
  val KlVocab = 200
  /** Integer scale for per-cell KL terms (the q124 PSI discipline: scale,
    * floor-round, sum as BIGINT — the unordered float sum never happens).
    */
  val KlScale = 1000000000L

  /** q143: per-source KL divergence of unigram distributions — how far
    * each source's token distribution sits from the whole-corpus
    * distribution, over a fixed top-[[KlVocab]] vocabulary with add-one
    * smoothing. The token-level drift diagnostic that complements q120
    * (KS, numeric), q124 (PSI, binned numeric) and q131 (chi², labels):
    * a crawl whose vocabulary diverges from the corpus is the first thing
    * a mixture owner wants flagged before q133 assigns it weight.
    *
    * Scale shape: one token explode feeds two hash aggregations (corpus
    * term counts → capped vocab; per-(source, term) counts); the cell
    * grid is |S|×V (catalog × constant — never corpus-sized), built by a
    * broadcast cross of the source list with the vocab, so zero cells
    * exist on both engines by construction. Per-cell KL terms are
    * integer-scaled BEFORE the per-source sum.
    */
  def klDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("source"), explode(Portable.toks(col("text"))).as("w"))
    // r16: the KlVocab-row vocabulary is consumed THREE times (the sc
    // semi-join, the grid cross-join, the smoothing totals) and the
    // (sources × vocab) grid twice (per-source totals + the KL terms) —
    // each reference re-planned its corpus-wide pipeline. Checkpoint
    // both bounded frames; the corpus explode now runs exactly twice
    // (the model-then-apply minimum: once for the vocab, once for sc).
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("cq"))
      .orderBy(col("cq").desc, col("w").asc).limit(KlVocab)
      .lineageCheckpoint()
    val sc = tok.join(broadcast(vocab.select(col("w"))), "w")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cs"))
    val srcs = Tables.documents(spark, sfDir).select(col("source")).distinct()
    val grid = srcs.crossJoin(broadcast(vocab))
      .join(sc, Seq("source", "w"), "left")
      .select(col("source"), col("w"), col("cq"),
        coalesce(col("cs"), lit(0L)).as("cs"))
      .lineageCheckpoint()
    val totals = grid.groupBy(col("source")).agg(sum(col("cs")).as("n"))
    // smooth with the ACTUAL cell count (a corpus with fewer distinct terms
    // than the cap would otherwise de-normalize p and q asymmetrically and
    // KL could go negative — Gibbs needs both to sum to 1 over the grid)
    val nn = vocab.agg(sum(col("cq")).as("nn"), count(lit(1)).as("ncells"))
    val p = (col("cs") + 1).cast("double") / (col("n") + col("ncells")).cast("double")
    val q = (col("cq") + 1).cast("double") / (col("nn") + col("ncells")).cast("double")
    grid.join(broadcast(totals), "source")
      .crossJoin(broadcast(nn))
      .select(col("source"), col("n"),
        floor(p * log(p / q) * KlScale + 0.5).cast("long").as("ti"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_vocab_tokens"),
        r4(sum(col("ti")).cast("double") / KlScale).as("kl"))
  }

  val klDivergenceSql: String = {
    val p = "(cs + 1)::DOUBLE / (n + ncells)::DOUBLE"
    val q = "(cq + 1)::DOUBLE / (nn + ncells)::DOUBLE"
    s"""WITH tok AS (
       |  SELECT source, unnest(${Portable.toksSql}) AS w FROM documents),
       |vocab AS (
       |  SELECT w, count(*) AS cq FROM tok GROUP BY 1
       |  ORDER BY cq DESC, w ASC LIMIT $KlVocab),
       |sc AS (
       |  SELECT source, w, count(*) AS cs
       |  FROM tok JOIN vocab USING (w) GROUP BY 1, 2),
       |srcs AS (SELECT DISTINCT source FROM documents),
       |grid AS (
       |  SELECT s.source, v.w, v.cq, coalesce(x.cs, 0) AS cs
       |  FROM srcs s CROSS JOIN vocab v
       |  LEFT JOIN sc x ON x.source = s.source AND x.w = v.w),
       |tot AS (SELECT source, sum(cs)::BIGINT AS n FROM grid GROUP BY 1),
       |nv AS (SELECT sum(cq)::BIGINT AS nn, count(*) AS ncells FROM vocab),
       |terms AS (
       |  SELECT g.source, t.n,
       |         floor(($p) * ln(($p) / ($q)) * $KlScale + 0.5)::BIGINT AS ti
       |  FROM grid g JOIN tot t USING (source), nv)
       |SELECT source, max(n) AS n_vocab_tokens,
       |       ${r4Sql(s"sum(ti)::DOUBLE / $KlScale")} AS kl
       |FROM terms GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------ q144 lexical diversity

  /** q144: per-source lexical-diversity profile — total tokens, distinct
    * types, hapax legomena (types occurring exactly once in the source),
    * type-token ratio and hapax share. The vocabulary-health metric a
    * corpus card reports next to q16's length stats: synthetic or
    * template-generated text shows abnormally LOW TTR (few types, heavy
    * reuse), OCR noise abnormally HIGH hapax share — both invisible to
    * per-document scores, visible per source.
    *
    * Scale shape: one explode + one (source, term) hash aggregation
    * (map-side combinable), then a source-level rollup of the term table —
    * the same two-agg cascade as q144's TF-IDF cousin q54, shuffled on
    * uniform keys. No windows, no pair expansion.
    */
  def ttrHapax(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), explode(Portable.toks(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("c") === 1).cast("long")).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        r4(col("n_types").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        r4(col("n_hapax").cast("double") / col("n_types").cast("double")).as("hapax_share"))

  val ttrHapaxSql: String =
    s"""WITH tok AS (
       |  SELECT source, unnest(${Portable.toksSql}) AS w FROM documents),
       |tc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
       |s AS (
       |  SELECT source, sum(c)::BIGINT AS n_tokens, count(*) AS n_types,
       |         sum((c = 1)::INT)::BIGINT AS n_hapax
       |  FROM tc GROUP BY 1)
       |SELECT source, n_tokens, n_types, n_hapax,
       |       ${r4Sql("n_types::DOUBLE / n_tokens::DOUBLE")} AS ttr,
       |       ${r4Sql("n_hapax::DOUBLE / n_types::DOUBLE")} AS hapax_share
       |FROM s""".stripMargin

  // ------------------------------------------------ q149 dataset card

  /** q149: dataset card — the one-row corpus summary a dataset release
    * ships (docs, token volume, provenance/language breadth, exact-dup
    * rate, mean quality, median length): every number is the corpus-level
    * rollup of an independently-audited kernel (q20's fingerprint, q17's
    * quality, q16's token count), composed here so the published card can
    * never drift from the gates that verified the parts.
    *
    * Scale shape: one scan computes the narrow base projection; one
    * 1-row aggregation + three distinct-count aggregations (each a hash
    * agg on its own key — source/lang are catalog-sized, the fingerprint
    * agg is q20's exact plan) combined by 1-row broadcast crosses. No
    * expand-based multi-distinct: each distinct count is its own
    * two-phase agg, so nothing reshuffles the corpus more than once.
    *
    * Parity: mean quality sums the r4-quantized per-doc scores as exact
    * integers (×10⁴) before ONE float division (the unordered float sum
    * never happens); the length median is Spark percentile ≡ DuckDB
    * quantile_cont over integers (the q86 equivalence).
    */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(Portable.toks(col("text"))).cast("long").as("n_tok"),
        floor(TextOps.qualityCol(col("text")) * 10000.0 + 0.5).cast("long").as("qi"),
        Dedup.exactFpCol(col("text")).as("fp"))
      // localCheckpoint, not cache(): the base projection is referenced by
      // four independent aggregations; an un-unpersisted cache() would pin
      // a corpus-wide RDD for the life of the session (166-query bench),
      // while the checkpointed blocks are released with the frame itself.
      .lineageCheckpoint()
    val core = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      sum(col("qi")).as("sqi"),
      Quantiles.pct(spark, col("n_tok"), 0.5).as("median_tok"))
    val srcs = base.select(col("source")).distinct()
      .agg(count(lit(1)).as("n_sources"))
    val langs = base.select(col("lang")).distinct()
      .agg(count(lit(1)).as("n_langs"))
    val uniq = base.select(col("fp")).distinct()
      .agg(count(lit(1)).as("n_unique"))
    core.crossJoin(broadcast(srcs)).crossJoin(broadcast(langs))
      .crossJoin(broadcast(uniq))
      .select(
        col("n_docs"), col("n_tokens"), col("n_sources"), col("n_langs"),
        col("n_unique"),
        r4(lit(1.0) - col("n_unique").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"),
        r4(col("sqi").cast("double") / col("n_docs").cast("double") / 10000.0)
          .as("mean_quality"),
        r4(col("median_tok")).as("median_tokens"))
  }

  val datasetCardSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, lang,
       |         len(${Portable.toksSql})::BIGINT AS n_tok,
       |         floor((${TextOps.qualitySqlExpr}) * 10000.0 + 0.5)::BIGINT AS qi,
       |         ${Dedup.exactFpSql} AS fp
       |  FROM documents),
       |core AS (
       |  SELECT count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       |         sum(qi)::BIGINT AS sqi,
       |         quantile_cont(n_tok, 0.5) AS median_tok
       |  FROM base),
       |srcs AS (SELECT count(*) AS n_sources FROM (SELECT DISTINCT source FROM base)),
       |langs AS (SELECT count(*) AS n_langs FROM (SELECT DISTINCT lang FROM base)),
       |uniq AS (SELECT count(*) AS n_unique FROM (SELECT DISTINCT fp FROM base))
       |SELECT n_docs, n_tokens, n_sources, n_langs, n_unique,
       |       ${r4Sql("1.0 - n_unique::DOUBLE / n_docs::DOUBLE")} AS dup_rate,
       |       ${r4Sql("sqi::DOUBLE / n_docs::DOUBLE / 10000.0")} AS mean_quality,
       |       ${r4Sql("median_tok")} AS median_tokens
       |FROM core, srcs, langs, uniq""".stripMargin

  // ------------------------------------------------ q157 decile lift

  val LiftDeciles = 10

  /** q157: decile-lift table — rank documents by the q17 quality score,
    * bucket into deciles, and report each decile's positive rate (the
    * q137 rule-gate verdict as label) against the overall rate. THE
    * standard evaluation for "does this score actually rank what we
    * care about": if quality is informative about rule-level keep, lift
    * is >1 in the top deciles and <1 at the bottom; a flat table says
    * the score is noise. Composes two independently-audited kernels as
    * scorer and labeler.
    *
    * Scale shape: the corpus collapses to r4-grid score cells (the q134
    * binned-ECDF discipline — the cumulative pass runs over ≤10⁴
    * cells, never rows), and the cell CDF is [[ScaleOps.rangedCumSum]]
    * (range-partitioned prefix sums + broadcast offsets — no partition-
    * less window even over the bounded grid) with the grand total as a
    * 1-row broadcast; deciles come from the cell CDF, so ties share a
    * decile deterministically ("value-tied deciles" — cell granularity,
    * not row granularity); one broadcast join back, one 10-row rollup
    * with the overall rate as a 1-row broadcast.
    */
  def decileLift(spark: SparkSession, sfDir: String): DataFrame = {
    // r16 (guide §2.3/§2.4): ONE corpus pass. The r15 form scanned the
    // corpus twice (gopher keep + quality score), joined the two
    // doc-sized frames on doc_id, and then consumed that joined base
    // THREE times (cells, the decile join, the overall rate) — five
    // corpus-sized computations and two fact shuffles for a query whose
    // every statistic is a function of the (score, keep) pair. Both
    // columns are per-row projections, so compute them side by side in
    // one scan, aggregate to the ≤(grid × 2)-row (score, keep) cell
    // frame once, checkpoint it, and derive cells / deciles / overall
    // from integer sums over those cells — identical totals, identical
    // doubles, zero corpus re-reads.
    val cells2 = Tables.documentsPar(spark, sfDir)
      .select(TextOps.qualityCol(col("text")).as("score") +:
        gopherStatCols(col("text")): _*)
      .select(col("score"), gopherKeep.as("keep"))
      .groupBy(col("score"), col("keep")).agg(count(lit(1)).as("cn2"))
      .lineageCheckpoint()
    val cells = cells2.groupBy(col("score")).agg(sum(col("cn2")).as("cn"))
    val totN = cells.agg(sum(col("cn")).as("n"))
    val cum = ScaleOps.rangedCumSum(cells, "score", floor(col("score") * 16),
        Seq("cn" -> "cum"))
      .crossJoin(broadcast(totN))
      .select(col("score"), col("cum"), col("n"))
    val deciled = cells2.join(cum, "score")
      .select(col("keep"), col("cn2"),
        least(lit(LiftDeciles - 1),
          floor(col("cum").cast("double") / col("n").cast("double") * LiftDeciles))
          .cast("int").as("decile"))
    val overall = cells2.agg(
      (sum(col("keep").cast("long") * col("cn2")).cast("double") /
        sum(col("cn2")).cast("double")).as("overall_rate"))
    deciled.groupBy(col("decile"))
      .agg(sum(col("cn2")).as("n"),
        sum(col("keep").cast("long") * col("cn2")).as("n_pos"))
      .crossJoin(broadcast(overall))
      .select(col("decile"), col("n"), col("n_pos"),
        r4(col("n_pos").cast("double") / col("n").cast("double")).as("pos_rate"),
        when(col("overall_rate") === 0.0, lit(0.0))
          .otherwise(r4(col("n_pos").cast("double") / col("n").cast("double") /
            col("overall_rate"))).as("lift"))
  }

  val decileLiftSql: String = {
    s"""WITH g AS ($gopherRulesSql),
       |base AS (
       |  SELECT d.doc_id, g.keep, ${TextOps.qualitySqlExpr} AS score
       |  FROM documents d JOIN g USING (doc_id)),
       |cells AS (SELECT score, count(*) AS cn FROM base GROUP BY 1),
       |cum AS (
       |  SELECT score,
       |         sum(cn) OVER (ORDER BY score
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |         sum(cn) OVER () AS n
       |  FROM cells),
       |deciled AS (
       |  SELECT b.keep,
       |         least($LiftDeciles - 1,
       |               floor(c.cum::DOUBLE / c.n::DOUBLE * $LiftDeciles))::INT AS decile
       |  FROM base b JOIN cum c USING (score)),
       |overall AS (
       |  SELECT sum(keep)::DOUBLE / count(*)::DOUBLE AS overall_rate FROM base)
       |SELECT decile, count(*) AS n, sum(keep)::BIGINT AS n_pos,
       |       ${r4Sql("sum(keep)::DOUBLE / count(*)::DOUBLE")} AS pos_rate,
       |       CASE WHEN (SELECT overall_rate FROM overall) = 0.0 THEN 0.0
       |            ELSE ${r4Sql(
             "sum(keep)::DOUBLE / count(*)::DOUBLE / (SELECT overall_rate FROM overall)")}
       |       END AS lift
       |FROM deciled GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------ q191 quality AUC

  /** q191: exact AUC of the quality score as a near-duplication predictor
    * — the Mann–Whitney/Wilcoxon answer to "do low-quality documents
    * duplicate more?", computed EXACTLY at corpus scale. q157's decile
    * lift reads the same question as a 10-row table; AUC is the single
    * threshold-free number a dataset card and a filter-tuning loop both
    * want (AUC 0.5 = the score carries no duplication signal; < 0.5 =
    * dup-cluster members score lower). Positives are the q22 verified
    * near-dup pair members; score is the q17 kernel.
    *
    * Scale shape: the corpus collapses to r4-grid score CELLS (the
    * q134/q157 binned-ECDF discipline: the cumulative pass runs over
    * ≤10⁴ cells, never rows), the cell CDF is [[ScaleOps.rangedCumSum]]
    * (no partition-less window), and the rank-sum uses MIDRANKS for
    * ties — doubled to stay in exact BIGINT arithmetic end to end
    * (midrank·2 = 2·cum_before + n_cell + 1 is always an integer):
    * AUC = (Σ 2·midrank·pos − n₊(n₊+1)) / (2·n₊·n₋), one division,
    * r4'd. The q22 pipeline dominates the cost; the AUC itself adds
    * two hash aggs and a broadcast of the 1-row totals.
    */
  def qualityAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.minhashLsh(spark, sfDir)
    // r16: ONE reference to the pair pipeline — the unionByName of two
    // projections of `pairs` made the planner compute the entire MinHash
    // LSH subtree twice (plan-verified: two full band+verify branches in
    // the r15 dump). Exploding both endpoints of each pair row keeps the
    // identical distinct-member set from a single pass.
    val members = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.qualityCol(col("text")).as("score"))
      .join(members.withColumn("pos", lit(1L)), Seq("doc_id"), "left")
      .select(col("score"), coalesce(col("pos"), lit(0L)).as("pos"))
    val cells = base.groupBy(col("score"))
      .agg(count(lit(1)).as("cn"), sum(col("pos")).as("cp"))
    val cum = ScaleOps.rangedCumSum(cells, "score", floor(col("score") * 16),
      Seq("cn" -> "cum"))
    // Σ over cells of n_pos · (2·midrank) — exact BIGINT
    val sums = cum.agg(
      sum(col("cp") * (lit(2L) * (col("cum") - col("cn")) + col("cn") + 1L))
        .as("rank2"),
      sum(col("cp")).as("n_pos"),
      sum(col("cn") - col("cp")).as("n_neg"))
    sums.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") === 0L || col("n_neg") === 0L, lit(0.0))
        .otherwise(r4(
          (col("rank2") - col("n_pos") * (col("n_pos") + 1L)).cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double"))))
        .as("auc"))
  }

  val qualityAucSql: String =
    s"""WITH p AS (${graft.ops.Dedup.minhashLshSql.replace("\n", "\n  ")}),
       |members AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p)),
       |base AS (
       |  SELECT ${TextOps.qualitySqlExpr} AS score,
       |         CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END::BIGINT AS pos
       |  FROM documents d LEFT JOIN members m USING (doc_id)),
       |cells AS (
       |  SELECT score, count(*)::BIGINT AS cn, sum(pos)::BIGINT AS cp
       |  FROM base GROUP BY 1),
       |cum AS (
       |  SELECT score, cn, cp,
       |         sum(cn) OVER (ORDER BY score
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS cum
       |  FROM cells),
       |s AS (
       |  SELECT sum(cp * (2 * (cum - cn) + cn + 1))::BIGINT AS rank2,
       |         sum(cp)::BIGINT AS n_pos,
       |         sum(cn - cp)::BIGINT AS n_neg
       |  FROM cum)
       |SELECT n_pos, n_neg,
       |       CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0
       |            ELSE ${r4Sql(
             """(rank2 - n_pos * (n_pos + 1))::DOUBLE
                | / (2.0 * n_pos::DOUBLE * n_neg::DOUBLE)""".stripMargin)}
       |       END AS auc
       |FROM s""".stripMargin

  // ------------------------------------------------ q166 Gini inequality

  /** q166: Gini coefficient of document length per source — how unequally
    * token mass is distributed across a source's documents (0 = every doc
    * the same length, →1 = a few giants carry everything). The inequality
    * lens a corpus card needs next to q118's histogram and q144's TTR: a
    * source whose token mass concentrates in a handful of documents
    * behaves like a much smaller source under per-document sampling
    * (q84/q110), and this is the number that says so. Computed by the
    * rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending ranks.
    *
    * Scale shape: one row_number window per SOURCE partition (key-
    * partitioned sort — never global) feeding one hash aggregation; the
    * rank·value products and both sums stay exact BIGINT (max rank ×
    * token count ≪ 2⁶³ at any plausible per-source cardinality), so the
    * only float math is the final two divisions, in identical order on
    * both engines, r4'd.
    */
  def giniTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("x").asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        size(Portable.toks(col("text"))).cast("long").as("x"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("x")).as("sum_x"),
        sum(col("i") * col("x")).as("sum_ix"))
      .select(col("source"), col("n_docs"), col("sum_x"),
        when(col("sum_x") === 0, lit(0.0))
          .otherwise(r4(
            lit(2.0) * col("sum_ix").cast("double") /
              (col("n_docs").cast("double") * col("sum_x").cast("double")) -
              (col("n_docs") + 1).cast("double") / col("n_docs").cast("double")))
          .as("gini"))
  }

  val giniTokensSql: String =
    s"""WITH b AS (
       |  SELECT source, doc_id, len(${Portable.toksSql})::BIGINT AS x
       |  FROM documents),
       |r AS (
       |  SELECT source, x,
       |         row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS i
       |  FROM b),
       |s AS (
       |  SELECT source, count(*) AS n_docs, sum(x)::BIGINT AS sum_x,
       |         sum(i * x)::BIGINT AS sum_ix
       |  FROM r GROUP BY 1)
       |SELECT source, n_docs, sum_x,
       |       CASE WHEN sum_x = 0 THEN 0.0
       |            ELSE ${r4Sql(
             """2.0 * sum_ix::DOUBLE / (n_docs::DOUBLE * sum_x::DOUBLE)
                | - (n_docs + 1)::DOUBLE / n_docs::DOUBLE""".stripMargin)}
       |       END AS gini
       |FROM s""".stripMargin

  // ------------------------------------------------ q184 Zipf fit

  /** Head size the rank–frequency regression runs over — a constant, so
    * the fit is comparable across corpora and the per-row fold below is
    * bounded regardless of vocabulary size.
    */
  val ZipfTopN = 500

  /** q184: Zipf rank–frequency fit — the corpus-statistics sanity check a
    * dataset card should carry next to q144's TTR and q166's Gini: token
    * frequencies of natural text follow freq ∝ rank^(−s) with s ≈ 1
    * (Zipf's law); the least-squares slope of ln(freq) on ln(rank) over
    * the top-[[ZipfTopN]] ranks measures it. A corpus whose slope drifts
    * far from −1 is telling you something upstream broke: heavy
    * boilerplate flattens the head (slope → 0), template spam steepens
    * it, OCR noise fattens the tail. One number, cheap, and comparable
    * across snapshots — the drift alarm for the tokenizer-facing corpus.
    *
    * Scale shape: one hash aggregation to the vocabulary (partial-agg
    * combinable, hash-uniform keys), a TakeOrdered top-[[ZipfTopN]] head
    * (no global sort — Spark plans orderBy+limit as a per-partition heap
    * + driver merge of N·partitions rows), then the regression folds run
    * INSIDE one collected [[ZipfTopN]]-element array (the q179/q182 pool
    * discipline: bounded by a constant, not by data, and no window — the
    * suite-wide no-partition-less-window invariant holds). The four sums
    * fold the array IN RANK ORDER on both engines, so the float
    * accumulation order is pinned; the slope/intercept divisions happen
    * once, r4-rounded.
    */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(explode(Portable.toks(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      count(lit(1)).as("vocab_size"), sum(col("cnt")).as("total_tokens"))
    val head = counts
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(ZipfTopN)
      .agg(sort_array(collect_list(struct((-col("cnt")).as("neg"),
        col("token"), col("cnt")))).as("ps"))
    def fsum(term: Column): Column =
      aggregate(term, lit(0.0), (acc, e) => acc + e)
    val withXy = head.select(
      size(col("ps")).cast("long").as("n_ranks"),
      aggregate(col("ps"), lit(0L), (acc, e) => acc + e.getField("cnt"))
        .as("head_tokens"),
      transform(col("ps"), (e, i) => log((i + 1).cast("double"))).as("xs"),
      transform(col("ps"), e => log(e.getField("cnt").cast("double"))).as("ys"),
      transform(col("ps"), (e, i) =>
        log((i + 1).cast("double")) * log(e.getField("cnt").cast("double")))
        .as("xys"),
      transform(col("ps"), (e, i) =>
        log((i + 1).cast("double")) * log((i + 1).cast("double"))).as("xxs"))
    val nD = col("n_ranks").cast("double")
    val slope = (nD * fsum(col("xys")) - fsum(col("xs")) * fsum(col("ys"))) /
      (nD * fsum(col("xxs")) - fsum(col("xs")) * fsum(col("xs")))
    val intercept = (fsum(col("ys")) - slope * fsum(col("xs"))) / nD
    withXy.crossJoin(broadcast(totals))
      .select(col("n_ranks"), col("vocab_size"), col("total_tokens"),
        r4(col("head_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("head_share"),
        r4(slope).as("slope"), r4(intercept).as("intercept"))
  }

  val zipfFitSql: String = {
    def fsum(xs: String) = s"list_sum($xs)"
    val slope =
      s"""(n_ranks::DOUBLE * ${fsum("xys")} - ${fsum("xs")} * ${fsum("ys")}) /
         | (n_ranks::DOUBLE * ${fsum("xxs")} - ${fsum("xs")} * ${fsum("xs")})""".stripMargin
    s"""WITH counts AS (
       |  SELECT token, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(${Portable.toksSql}) AS token FROM documents)
       |  GROUP BY 1),
       |totals AS (
       |  SELECT count(*)::BIGINT AS vocab_size, sum(cnt)::BIGINT AS total_tokens
       |  FROM counts),
       |head AS (
       |  SELECT list({'neg': -cnt, 'token': token, 'cnt': cnt}
       |              ORDER BY -cnt, token) AS ps
       |  FROM (SELECT * FROM counts ORDER BY cnt DESC, token LIMIT $ZipfTopN)),
       |xy AS (
       |  SELECT len(ps)::BIGINT AS n_ranks,
       |         list_sum(list_transform(ps, e -> e.cnt))::BIGINT AS head_tokens,
       |         list_transform(range(1, len(ps) + 1), i -> ln(i::DOUBLE)) AS xs,
       |         list_transform(ps, e -> ln(e.cnt::DOUBLE)) AS ys,
       |         list_transform(range(1, len(ps) + 1),
       |                        i -> ln(i::DOUBLE) * ln(ps[i::INT].cnt::DOUBLE)) AS xys,
       |         list_transform(range(1, len(ps) + 1),
       |                        i -> ln(i::DOUBLE) * ln(i::DOUBLE)) AS xxs
       |  FROM head)
       |SELECT n_ranks, t.vocab_size, t.total_tokens,
       |       ${r4Sql("head_tokens::DOUBLE / t.total_tokens::DOUBLE")} AS head_share,
       |       ${r4Sql(slope)} AS slope,
       |       ${r4Sql(s"(${fsum("ys")} - ($slope) * ${fsum("xs")}) / n_ranks::DOUBLE")}
       |         AS intercept
       |FROM xy, totals t""".stripMargin
  }

  // --------------------------------------- q196 logistic-regression quality

  /** Full-batch gradient-descent rounds (fixed-k by contract, like
    * [[graft.ops.Similarity.PowerIters]] — identical output on any engine)
    * and learning rate.
    */
  val LogregRounds = 3
  val LogregLr = 1.0
  /** Integer grids: probabilities quantized to 1e6, features to 1e4 — every
    * gradient term is an exact integer (≤ 1e10 per doc), so the unordered
    * cross-partition sum is associative and engine-identical (the KlScale /
    * PSI discipline applied to model training).
    */
  val LogregPScale = 1000000L
  val LogregXScale = 10000L

  /** q196: a trained quality classifier — binary logistic regression fit
    * IN-ENGINE by full-batch gradient descent, distilling the q137 hard
    * rule bank into a continuous, differentiable quality score (the
    * fasttext/LR-classifier stage of production LLM pipelines — GPT-3's
    * quality LR over crawl features, LLaMA's fasttext gate — expressed as
    * pure Spark aggregations; no ML runtime exists in this container and
    * none is needed for LR). Features: capped token count, mean token
    * length, stopword rate (from the q137 frame; the r4-grid/exact-ratio
    * values that discriminate on this corpus); label: the composite
    * Gopher keep. Output: one row per GD
    * round — entering-weights training accuracy and the updated weight
    * vector — so the gate pins the whole optimization trajectory, not just
    * the converged point.
    *
    * Scale shape: THE canonical distributed-ML pattern (one
    * map-side-combinable aggregation per round over a localCheckpointed
    * dimension-4 feature frame; the corpus is scanned once to build
    * features). Per-round state is 4 driver scalars — the q85/q148
    * scalar-probe class. At 100 TB nothing grows but the one feature scan.
    *
    * Parity: the sigmoid is the only transcendental; its output is
    * immediately quantized to the [[LogregPScale]] grid, so gradients and
    * accuracy counts are EXACT integers on both engines (a 1-ulp exp()
    * divergence can flip a quantized cell only when p·1e6 lands within
    * ~1e-10 of a half-integer — the same accepted boundary class as r4
    * over ln elsewhere). Weight updates are plain IEEE ops in an
    * identical textual order on both sides, so the carried doubles stay
    * bit-equal round to round. Gradient terms are ≤ 1e10 per document:
    * the Spark-side gradient sums accumulate in DECIMAL(38,0) (matching
    * DuckDB's BIGINT→HUGEINT promotion), so there is no overflow bound at
    * any corpus size — the decimal sum is exact to 10³⁸.
    */
  /** The quantized sigmoid: floor(σ(margin at weights w)·1e6 + 0.5) as a
    * LONG column over the integer-scaled feature frame.
    */
  private def logregPq(w: Array[Double]): Column = {
    val xs = LogregXScale
    val x1 = col("x1s").cast("double") / xs.toDouble
    val x2 = col("x2s").cast("double") / xs.toDouble
    val x3 = col("x3s").cast("double") / xs.toDouble
    val m = lit(w(0)) + lit(w(1)) * x1 + lit(w(2)) * x2 + lit(w(3)) * x3
    floor((lit(1.0) / (lit(1.0) + exp(-m))) *
      LogregPScale.toDouble + 0.5).cast("long")
  }

  /** Shared GD trainer for q196/q202: the localCheckpointed feature frame
    * plus the full-precision trajectory — per round (step, entering-weights
    * accuracy, weights AFTER the update).
    */
  private[graft] def trainLogreg(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[(Int, Long, Array[Double])]) = {
    // feature frame: integer-scaled features + label; localCheckpoint caps
    // the per-round lineage (the q148 discipline) and materializes the
    // corpus scan once for the LogregRounds re-reads
    val feats = docFeats(spark, sfDir).drop("doc_id").lineageCheckpoint()
    (feats, trainLogregOn(feats))
  }

  /** The GD loop over an arbitrary integer-scaled feature frame — shared
    * by the full-corpus q196 trainer and q249's holdout-trained reference
    * model (the caller owns materialization of `feats`).
    */
  private[graft] def trainLogregOn(feats: DataFrame)
      : Seq[(Int, Long, Array[Double])] = {
    val xs = LogregXScale
    val w = Array(0.0, 0.0, 0.0, 0.0)
    val rows = Seq.newBuilder[(Int, Long, Array[Double])]
    for (r <- 1 to LogregRounds) {
      val pq = logregPq(w)
      val err = pq - col("y") * LogregPScale
      // gradient terms reach ~1e10 per document — sum in DECIMAL(38,0)
      // (DuckDB's HUGEINT analogue) so the accumulator cannot overflow at
      // any corpus size; the per-term product stays exact in LONG
      val agg = feats.agg(
        count(lit(1)).as("n"),
        sum(when((pq >= LogregPScale / 2) === (col("y") === 1L), 1L)
          .otherwise(0L)).as("correct"),
        sum((err * xs).cast("decimal(38,0)")).as("g0"),
        sum((err * col("x1s")).cast("decimal(38,0)")).as("g1"),
        sum((err * col("x2s")).cast("decimal(38,0)")).as("g2"),
        sum((err * col("x3s")).cast("decimal(38,0)")).as("g3")).collect()(0)
      val n = agg.getLong(0)
      val denom = LogregPScale.toDouble * xs.toDouble * n.toDouble
      for (j <- 0 to 3)
        w(j) = w(j) - LogregLr * (agg.getDecimal(2 + j).doubleValue / denom)
      rows += ((r, agg.getLong(1), w.clone()))
    }
    rows.result()
  }

  /** Several GD chains over SUBSETS of one feature frame, advanced
    * together: ONE aggregation per round computes every chain's gradient
    * via subset-conditional sums (r15; the q262 pattern generalized —
    * sequential chains paid |chains|× the passes for the same terms).
    * Chain i trains on the rows where `preds(i)` holds, at its own
    * current weights. Bit-equal to running [[trainLogregOn]] on each
    * filtered frame: per chain and round the gradient is the sum of
    * exactly the same integer terms (conditional 0 elsewhere; decimal
    * sums are order-free), and the driver-side weight updates are the
    * same IEEE ops in the same order. Returns each chain's final
    * weights.
    *
    * Every predicate must match ≥1 row: a zero-row subset has no gradient
    * (n = 0), and fails the run instead of yielding NaN weights.
    */
  private[graft] def trainLogregMulti(feats: DataFrame,
      preds: Seq[Column]): Seq[Array[Double]] = {
    val xs = LogregXScale
    val k = preds.length
    val w = Array.fill(k)(Array(0.0, 0.0, 0.0, 0.0))
    val zeroDec = lit(0L).cast("decimal(38,0)")
    for (_ <- 1 to LogregRounds) {
      val aggs = (0 until k).flatMap { i =>
        val err = logregPq(w(i)) - col("y") * LogregPScale
        Seq(
          sum(when(preds(i), 1L).otherwise(0L)).as(s"n_$i"),
          sum(when(preds(i), (err * xs).cast("decimal(38,0)"))
            .otherwise(zeroDec)).as(s"g0_$i"),
          sum(when(preds(i), (err * col("x1s")).cast("decimal(38,0)"))
            .otherwise(zeroDec)).as(s"g1_$i"),
          sum(when(preds(i), (err * col("x2s")).cast("decimal(38,0)"))
            .otherwise(zeroDec)).as(s"g2_$i"),
          sum(when(preds(i), (err * col("x3s")).cast("decimal(38,0)"))
            .otherwise(zeroDec)).as(s"g3_$i"))
      }
      val row = feats.agg(aggs.head, aggs.tail: _*).collect()(0)
      for (i <- 0 until k) {
        val n = row.getLong(row.fieldIndex(s"n_$i"))
        require(n > 0, s"trainLogregMulti: chain $i's predicate matches no row")
        val denom = LogregPScale.toDouble * xs.toDouble * n.toDouble
        for (j <- 0 to 3)
          w(i)(j) = w(i)(j) - LogregLr *
            (row.getDecimal(row.fieldIndex(s"g${j}_$i")).doubleValue / denom)
      }
    }
    w.toSeq
  }

  def logregQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, traj) = trainLogreg(spark, sfDir)
    def o(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val s = spark
    import s.implicits._
    traj.map { case (r, correct, w) =>
      (r, correct, o(w(0)), o(w(1)), o(w(2)), o(w(3)))
    }.toDF("step", "n_correct", "w0", "w1", "w2", "w3")
  }

  /** Oracle-side quantized sigmoid at the weights of CTE alias `p`
    * (identical textual op order to [[logregPq]]).
    */
  private def logregPqSql: String = logregPqSqlAt("p")

  /** As [[logregPqSql]] but at an arbitrary weight-CTE alias (q249 scores
    * two models in one SELECT).
    */
  private def logregPqSqlAt(a: String): String = {
    val xs = LogregXScale
    val m = s"((($a.w0 + $a.w1 * (x1s::DOUBLE / $xs.0)) + " +
      s"$a.w2 * (x2s::DOUBLE / $xs.0)) + $a.w3 * (x3s::DOUBLE / $xs.0))"
    s"floor((1.0 / (1.0 + exp(-$m))) * $LogregPScale.0 + 0.5)::BIGINT"
  }

  /** The shared WITH-chain through `w$LogregRounds` (features + unrolled GD
    * rounds, no final SELECT) — q196 reads the trajectory off it, q202
    * appends the scoring pass.
    */
  private def logregChainSql: String = {
    val xs = LogregXScale
    val sb = new StringBuilder
    sb ++= s"WITH g AS ($gopherRulesSql),\n"
    sb ++= s"f AS (SELECT g.doc_id, (least(n_tokens, 200)::BIGINT * 50) AS x1s,\n"
    sb ++= s"             floor(mean_tok_len * ${xs / 10}.0 + 0.5)::BIGINT AS x2s,\n"
    sb ++= s"             CASE WHEN n_tokens > 0 THEN floor(stop_hits::DOUBLE" +
      s" / n_tokens::DOUBLE * $xs.0 + 0.5)::BIGINT ELSE 0 END AS x3s,\n"
    sb ++= s"             keep::BIGINT AS y FROM g),\n"
    sb ++= gdRoundsSql("f", "s", "w")
    sb.result()
  }

  /** The unrolled GD rounds over feature CTE `frame`, with gradient CTEs
    * `${sp}1..${sp}N` and weight CTEs `${wp}0..${wp}N` (no leading WITH,
    * no trailing comma) — ("f","s","w") reproduces the q196 chain, q249
    * appends a second ("fh","rs","rw") chain for its reference model.
    */
  private def gdRoundsSql(frame: String, sp: String, wp: String): String = {
    val xs = LogregXScale
    val ps = LogregPScale
    val sb = new StringBuilder
    sb ++= s"${wp}0 AS (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1, " +
      s"0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3),\n"
    for (r <- 1 to LogregRounds) {
      sb ++= s"$sp$r AS (SELECT count(*)::BIGINT AS n,\n"
      sb ++= s"  sum(CASE WHEN (pq >= ${ps / 2}) = (y = 1) THEN 1 ELSE 0 END)::BIGINT AS correct,\n"
      sb ++= s"  sum((pq - y * $ps) * $xs)::BIGINT AS g0,\n"
      sb ++= s"  sum((pq - y * $ps) * x1s)::BIGINT AS g1,\n"
      sb ++= s"  sum((pq - y * $ps) * x2s)::BIGINT AS g2,\n"
      sb ++= s"  sum((pq - y * $ps) * x3s)::BIGINT AS g3\n"
      sb ++= s"  FROM (SELECT y, x1s, x2s, x3s,\n"
      sb ++= s"    $logregPqSql AS pq\n"
      sb ++= s"    FROM $frame, $wp${r - 1} p)),\n"
      val upd = (0 to 3).map(j =>
        s"p.w$j - $LogregLr * (s.g$j::DOUBLE / ($ps.0 * $xs.0 * s.n::DOUBLE)) AS w$j")
        .mkString(", ")
      sb ++= s"$wp$r AS (SELECT $upd, s.correct AS correct FROM $wp${r - 1} p, $sp$r s)"
      if (r < LogregRounds) sb ++= ",\n"
    }
    sb.result()
  }

  val logregQualitySql: String =
    logregChainSql + "\n" + (1 to LogregRounds).map { r =>
      s"SELECT $r::INT AS step, correct AS n_correct, " +
        (0 to 3).map(j => s"${Portable.r4Sql(s"w$j")} AS w$j").mkString(", ") +
        s" FROM w$r"
    }.mkString("", "\nUNION ALL\n", "")

  // ----------------------------------------- q202 classifier application

  /** q202: apply the q196-trained classifier back over the corpus and
    * audit it against the rule-bank label — the confusion matrix plus
    * precision/recall/F1/accuracy in one row. The missing "apply" half of
    * train-then-filter: a pipeline owner reads this row to decide whether
    * the distilled continuous scorer can replace the hard gate (and at
    * what error trade), exactly the check run before swapping a fasttext
    * gate into a crawl pipeline. F1 is computed as 2·tp/(2·tp+fp+fn) —
    * one exact-integer ratio, no intermediate float precision/recall.
    *
    * Scale shape: the training passes (q196's shape) plus ONE more
    * map-side-combinable aggregation over the same localCheckpointed
    * feature frame at the final weights. Parity: counts are the exact
    * quantized-sigmoid integers; every metric is a single r4'd division
    * of exact BIGINTs.
    */
  def logregApply(spark: SparkSession, sfDir: String): DataFrame = {
    val (feats, traj) = trainLogreg(spark, sfDir)
    val w = traj.last._3
    val pq = logregPq(w)
    val pred = pq >= LogregPScale / 2
    val y1 = col("y") === 1L
    val agg = feats.agg(
      sum(when(pred && y1, 1L).otherwise(0L)).as("tp"),
      sum(when(pred && !y1, 1L).otherwise(0L)).as("fp"),
      sum(when(!pred && y1, 1L).otherwise(0L)).as("fn"),
      sum(when(!pred && !y1, 1L).otherwise(0L)).as("tn")).collect()(0)
    val (tp, fpc, fnc, tn) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    def r4d(a: Long, b: Long) =
      if (b == 0L) 0.0 else math.floor(a.toDouble / b.toDouble * 1e4 + 0.5) / 1e4
    val s = spark
    import s.implicits._
    Seq((tp, fpc, fnc, tn,
      r4d(tp, tp + fpc), r4d(tp, tp + fnc),
      r4d(2 * tp, 2 * tp + fpc + fnc), r4d(tp + tn, tp + fpc + fnc + tn)))
      .toDF("n_tp", "n_fp", "n_fn", "n_tn", "prec", "rec", "f1", "acc")
  }

  // ------------------------------------------- q222 curation-shift audit

  /** Movers reported and the vocabulary cap (the q143 discipline). */
  val ShiftTopN = 20

  /** q222: curation distribution-shift audit — what the q100 funnel DOES
    * to the token distribution: unigram probabilities over the raw corpus
    * vs over the s4 survivors, reported as the top-[[ShiftTopN]] movers
    * (by absolute probability shift) within the top-[[KlVocab]]
    * raw-frequency vocabulary. The dataset-card number behind "our
    * filtering does not skew content": aggressive dedup/quality gates are
    * KNOWN to shift topic/style mass (dedup removes boilerplate-heavy
    * tokens, quality gates remove short-doc vocabulary), and this query
    * is the evidence either way. Reads next to q143 (per-source KL) and
    * q149 (the card itself).
    *
    * Scale shape: the survivor flags are the memoized funnel frame (one
    * scan + the component stack's own joins); ONE token explode joined
    * to the per-doc flag, one hash agg per token carrying both counts,
    * a TakeOrdered vocab cap and a TakeOrdered movers cut — no
    * partition-less window, output 20 rows at any corpus size.
    *
    * Parity: counts exact; probabilities r4'd from exact integer
    * ratios; shift = difference of the two r4'd doubles; the
    * empty-survivor corner (tcur = 0) pins p_cur to 0.0 on both
    * engines; movers rank on (|shift| DESC, token) over the r4 grid.
    */
  def curationShift(spark: SparkSession, sfDir: String): DataFrame = {
    val kept = graft.ops.CurationPipeline.survivorFlags(spark, sfDir)
      .select(col("doc_id"), col("s4"))
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(Portable.toks(col("text"))).as("w"))
      .join(kept, "doc_id")
    // r16: the vocabulary-sized count frame feeds two consumers (the
    // top-K vocab and the totals) — checkpoint it so the corpus explode +
    // survivor join runs once, not twice
    val counts = tok.groupBy(col("w"))
      .agg(count(lit(1)).as("n_raw"),
        sum(col("s4").cast("long")).as("n_cur"))
      .lineageCheckpoint()
    val vocab = counts.orderBy(col("n_raw").desc, col("w").asc).limit(KlVocab)
    val tot = counts.agg(sum(col("n_raw")).as("traw"),
      sum(col("n_cur")).as("tcur"))
    val pRaw = r4(col("n_raw").cast("double") / col("traw").cast("double"))
    val pCur = when(col("tcur") > 0L,
      r4(col("n_cur").cast("double") / col("tcur").cast("double")))
      .otherwise(0.0)
    vocab.crossJoin(broadcast(tot))
      .select(col("w").as("token"), col("n_raw"), col("n_cur"),
        pRaw.as("p_raw"), pCur.as("p_cur"))
      .withColumn("shift", col("p_cur") - col("p_raw"))
      .orderBy(abs(col("shift")).desc, col("token").asc)
      .limit(ShiftTopN)
  }

  val curationShiftSql: String = {
    val pRaw = r4Sql("n_raw::DOUBLE / traw::DOUBLE")
    val pCur = s"CASE WHEN tcur > 0 THEN ${r4Sql(
      "n_cur::DOUBLE / tcur::DOUBLE")} ELSE 0.0 END"
    s"""WITH base AS (
       |  SELECT doc_id, (doc_id % ${Dedup.EvalSetModulus} = 0) AS is_eval,
       |         ${Dedup.exactFpSql} AS fp,
       |         ${TextOps.qualitySqlExpr} AS quality
       |  FROM documents),
       |reps AS (SELECT fp, min(doc_id) AS keep_id FROM base
       |         WHERE NOT is_eval GROUP BY 1),
       |near AS (${AdvancedOps.dedupKeepListSql.replace("\n", "\n  ")}),
       |cont AS (${Dedup.contaminationSql.replace("\n", "\n  ")}),
       |s4d AS (
       |  SELECT b.doc_id,
       |         (NOT b.is_eval AND b.doc_id = r.keep_id AND n.keep
       |          AND b.quality >= ${CurationPipeline.QualityMin}
       |          AND c.doc_id IS NULL) AS s4
       |  FROM base b
       |  LEFT JOIN reps r USING (fp)
       |  JOIN near n USING (doc_id)
       |  LEFT JOIN cont c USING (doc_id)),
       |tok AS (SELECT doc_id, unnest(${Portable.toksSql}) AS w
       |        FROM documents),
       |counts AS (
       |  SELECT w, count(*) AS n_raw, sum(s4::INT)::BIGINT AS n_cur
       |  FROM tok JOIN s4d USING (doc_id) GROUP BY 1),
       |vocab AS (SELECT * FROM counts ORDER BY n_raw DESC, w LIMIT $KlVocab),
       |tot AS (SELECT sum(n_raw)::BIGINT AS traw, sum(n_cur)::BIGINT AS tcur
       |        FROM counts)
       |SELECT token, n_raw, n_cur, p_raw, p_cur, (p_cur - p_raw) AS shift
       |FROM (SELECT w AS token, n_raw, n_cur,
       |             $pRaw AS p_raw, $pCur AS p_cur
       |      FROM vocab, tot)
       |ORDER BY abs(p_cur - p_raw) DESC, token LIMIT $ShiftTopN""".stripMargin
  }

  // ----------------------------------------- q215 classifier calibration

  /** Number of probability buckets for the reliability diagram. */
  val CalibBuckets = 10

  /** q215: calibration audit of the q196-trained classifier — the
    * reliability diagram: bucket every document by its predicted keep
    * probability (deciles of the quantized sigmoid at the final
    * weights) and report, per bucket, the document count, the mean
    * predicted probability, and the OBSERVED keep rate. q202 answers
    * "how accurate is the distilled gate at the 0.5 threshold"; this
    * answers the question a pipeline owner deciding on a DIFFERENT
    * threshold (or on probability-weighted sampling, the q204/q110
    * consumers) must ask first: do the scores MEAN anything away from
    * the decision boundary, or is the model confident-and-wrong in a
    * band? The gap column (predicted − observed per bucket) is the
    * per-bucket expected-calibration-error contribution.
    *
    * Buckets are equal-width over the OBSERVED probability range
    * (min..max of the quantized sigmoid, broadcast from one agg) rather
    * than the absolute [0,1) grid: a lightly-trained or
    * well-regularized scorer concentrates its outputs in a narrow band
    * (this corpus: all mass within one absolute decile), and the
    * diagram must resolve ordering quality INSIDE that band to say
    * anything — the standard adaptive-binning move of calibration
    * audits, here with deterministic integer bin edges.
    *
    * Scale shape: q196's training passes plus ONE more
    * map-side-combinable aggregation over the same localCheckpointed
    * feature frame — output is [[CalibBuckets]] rows at any corpus
    * size. Predicted-probability sums accumulate in DECIMAL(38,0)
    * (the q196 gradient discipline) so no corpus size overflows them.
    *
    * Parity: bucket = integer div of the exact quantized sigmoid;
    * mean/rate are r4'd divisions of exact integer sums; gap is the
    * difference of the two already-r4'd values (identical doubles on
    * both engines).
    */
  def logregCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val (feats, traj) = trainLogreg(spark, sfDir)
    val w = traj.last._3
    val scored = feats.withColumn("pq", logregPq(w))
    val bounds = scored.agg(min(col("pq")).as("lo"), max(col("pq")).as("hi"))
    val agg = scored.crossJoin(broadcast(bounds))
      .groupBy(least(
        expr(s"((pq - lo) * $CalibBuckets) div (hi - lo + 1)"),
        lit((CalibBuckets - 1).toLong)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pq").cast("decimal(38,0)")).as("sum_pq"),
        sum(col("y")).as("n_kept"))
    agg.select(col("bucket"), col("n_docs"),
        Portable.r4(col("sum_pq").cast("double") /
          (col("n_docs").cast("double") * LogregPScale.toDouble))
          .as("mean_pred"),
        Portable.r4(col("n_kept").cast("double") / col("n_docs").cast("double"))
          .as("keep_rate"))
      .withColumn("gap", col("mean_pred") - col("keep_rate"))
  }

  val logregCalibrationSql: String = {
    val ps = LogregPScale
    logregChainSql +
      s""",
         |scored AS (SELECT y, $logregPqSql AS pq FROM f, w$LogregRounds p),
         |bounds AS (SELECT min(pq) AS lo, max(pq) AS hi FROM scored),
         |b AS (
         |  SELECT least(((pq - lo) * $CalibBuckets) // (hi - lo + 1),
         |               ${CalibBuckets - 1})::BIGINT
         |           AS bucket,
         |         count(*) AS n_docs,
         |         sum(pq)::HUGEINT AS sum_pq,
         |         sum(y)::BIGINT AS n_kept
         |  FROM scored, bounds GROUP BY 1)
         |SELECT bucket, n_docs,
         |       ${Portable.r4Sql(
           s"sum_pq::DOUBLE / (n_docs::DOUBLE * $ps.0)")} AS mean_pred,
         |       ${Portable.r4Sql("n_kept::DOUBLE / n_docs::DOUBLE")}
         |         AS keep_rate,
         |       (${Portable.r4Sql(s"sum_pq::DOUBLE / (n_docs::DOUBLE * $ps.0)")}
         |        - ${Portable.r4Sql("n_kept::DOUBLE / n_docs::DOUBLE")}) AS gap
         |FROM b""".stripMargin
  }

  val logregApplySql: String = {
    val half = LogregPScale / 2
    def m(a: String, b: String) =
      s"CASE WHEN ($b) = 0 THEN 0.0 ELSE ${Portable.r4Sql(s"($a)::DOUBLE / ($b)::DOUBLE")} END"
    logregChainSql +
      s""",
         |scored AS (SELECT y, $logregPqSql AS pq FROM f, w$LogregRounds p),
         |conf AS (SELECT
         |  sum(CASE WHEN pq >= $half AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS n_tp,
         |  sum(CASE WHEN pq >= $half AND y <> 1 THEN 1 ELSE 0 END)::BIGINT AS n_fp,
         |  sum(CASE WHEN pq < $half AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS n_fn,
         |  sum(CASE WHEN pq < $half AND y <> 1 THEN 1 ELSE 0 END)::BIGINT AS n_tn
         |  FROM scored)
         |SELECT n_tp, n_fp, n_fn, n_tn,
         |       ${m("n_tp", "n_tp + n_fp")} AS prec,
         |       ${m("n_tp", "n_tp + n_fn")} AS rec,
         |       ${m("2 * n_tp", "2 * n_tp + n_fp + n_fn")} AS f1,
         |       ${m("n_tp + n_tn", "n_tp + n_fp + n_fn + n_tn")} AS acc
         |FROM conf""".stripMargin
  }

  // --------------------------------------- q224 cross-domain perplexity

  /** Sources whose portable h32 lands in residue 0 mod this constant form
    * the REFERENCE domain the LM is trained on (4 of the 20 testdata
    * sources) — the "Wikipedia side" of the CCNet setup. Hash-derived so
    * the split is deterministic, data-independent, and identical in both
    * engines.
    */
  val CcnetRefMod = 4

  /** Add-k smoothing count (add-one / Laplace). One shared constant in
    * both plans; k = 1 keeps every probability an exact integer ratio.
    */
  val CcnetAddK = 1

  /** q224: cross-domain perplexity scoring — the actual CCNet recipe
    * (Wenzek et al. 2020 §4.3): train a smoothed bigram LM on a trusted
    * REFERENCE domain, then score EVERY document against it, so
    * "quality" means "looks like the reference", not "looks like the
    * corpus average". This is the piece the self-scored q103/q205 family
    * deliberately omits: there every bigram in scope is observed by
    * construction, so no smoothing is needed and domain shift is
    * invisible; here non-reference documents routinely contain bigrams
    * (and head tokens) the LM never saw, which is exactly the signal —
    * the add-one smoothed probability (C(ab)+1)/(C(a·)+V) assigns them
    * principled mass (V = reference vocabulary + 1 unseen bucket) and
    * the per-source OOV-bigram rate is published next to the NLL.
    *
    * Output: one row per source (catalog-sized): is_ref flag, scored-doc
    * count (docs with ≥ 2 tokens, the q103 convention), OOV bigram rate
    * (exact integer ratio, r4), and the mean per-document smoothed NLL
    * (r4). Reference sources have OOV rate 0 by construction — their own
    * bigrams are all in the table — which CorpusOpsSpec pins.
    *
    * Scale shape: the LM is two hash aggregations over the REFERENCE
    * bigram stream (map-side combinable; output is vocabulary-sized, not
    * corpus-sized). Scoring is two equi-joins of the full bigram stream
    * against those vocab-keyed tables plus one broadcast scalar (V). At
    * gate scale the planner broadcasts both LM tables; at 100 TB the
    * (a,b) join shuffles on bigram keys (far flatter than unigrams) and
    * the unigram-keyed C(a·) join carries Zipf-head skew — mitigated by
    * broadcasting the unigram table (vocabulary ≪ corpus) or AQE skew
    * join, never by sorting the corpus. No windows anywhere.
    */
  def crossdomainPpl(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        (pmod(Portable.h32(col("source")), lit(CcnetRefMod)) === 0)
          .cast("int").as("is_ref"),
        Portable.toks(col("text")).as("ts"))
    val bi = TextOps.adjacentPairs(docs, "ts",
      Seq("doc_id", "source", "is_ref"))
    val refBi = bi.filter(col("is_ref") === 1)
    val cab = refBi.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
    val v = docs.filter(col("is_ref") === 1)
      .select(explode(col("ts")).as("w"))
      .agg((count_distinct(col("w")) + 1L).as("v"))
    val perDoc = bi
      .join(cab, Seq("a", "b"), "left")
      .join(ca, Seq("a"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("source"), col("is_ref"),
        col("n_ab").isNull.cast("long").as("oov"),
        log((coalesce(col("n_ab"), lit(0L)) + lit(CcnetAddK.toLong))
            .cast("double") /
          (coalesce(col("n_a"), lit(0L)) + lit(CcnetAddK.toLong) * col("v"))
            .cast("double")).as("lp"))
      .groupBy(col("doc_id"), col("source"), col("is_ref"))
      .agg(count(lit(1)).as("n_bi"), sum(col("oov")).as("n_oov"),
        (-avg(col("lp"))).as("nll"))
    perDoc.groupBy(col("source"), col("is_ref"))
      .agg(count(lit(1)).as("n_docs"),
        r4(sum(col("n_oov")).cast("double") /
          sum(col("n_bi")).cast("double")).as("oov_rate"),
        r4(avg(col("nll"))).as("mean_nll"))
  }

  val crossdomainPplSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         ((${Portable.h32Sql("source")}) % $CcnetRefMod = 0)::INT
       |           AS is_ref,
       |         ${Portable.toksSql} AS ts
       |  FROM documents),
       |bi AS (
       |  ${TextOps.adjacentPairsSql("d", "ts", "doc_id, source, is_ref,")}),
       |cab AS (
       |  SELECT a, b, count(*)::BIGINT AS n_ab FROM bi
       |  WHERE is_ref = 1 GROUP BY 1, 2),
       |ca AS (SELECT a, sum(n_ab)::BIGINT AS n_a FROM cab GROUP BY 1),
       |v AS (
       |  SELECT (count(DISTINCT w) + 1)::BIGINT AS v
       |  FROM (SELECT unnest(ts) AS w FROM d WHERE is_ref = 1)),
       |pd AS (
       |  SELECT bi.doc_id, bi.source, bi.is_ref,
       |         count(*)::BIGINT AS n_bi,
       |         sum((cab.n_ab IS NULL)::INT)::BIGINT AS n_oov,
       |         -avg(ln((coalesce(cab.n_ab, 0) + $CcnetAddK)::DOUBLE /
       |                 (coalesce(ca.n_a, 0) + $CcnetAddK * v.v)::DOUBLE))
       |           AS nll
       |  FROM bi LEFT JOIN cab USING (a, b) LEFT JOIN ca USING (a), v
       |  GROUP BY 1, 2, 3)
       |SELECT source, is_ref, count(*)::BIGINT AS n_docs,
       |       ${r4Sql("sum(n_oov)::DOUBLE / sum(n_bi)::DOUBLE")} AS oov_rate,
       |       ${r4Sql("avg(nll)")} AS mean_nll
       |FROM pd GROUP BY 1, 2""".stripMargin

  // ------------------------------------------ q241 uncertainty sampling

  /** Labeling-batch size of the active-learning query. */
  val UncertainK = 20

  /** q241: uncertainty sampling — the active-learning step that closes
    * the q196→q215→q202 classifier loop (Lewis & Gale 1994): the next
    * LABELING batch is the [[UncertainK]] documents whose predicted
    * probability sits closest to the decision boundary (margin
    * |p − ½| smallest), because labels there move the decision function
    * most per annotation dollar. Published per selected doc: the
    * quantized probability, the margin, and the current rule-bank label
    * (what the annotator would be shown to confirm or overturn).
    *
    * Scale shape: the q196 training passes plus ONE scoring scan over
    * the doc-keyed feature frame and a TakeOrdered cut (orderBy+limit —
    * no global window); K is a config constant, so the selection moves
    * K rows at any corpus size.
    *
    * Parity: pq is the quantized sigmoid (exact integers on both
    * engines at bit-equal carried weights — the q196 contract), so the
    * margin ordering is an exact-integer sort with doc_id ties; p and
    * margin publish as r4'd exact ratios.
    */
  /** Doc-keyed twin of the q196 feature frame (the gate/score surface of
    * q241/q245).
    */
  private[graft] def docFeats(spark: SparkSession, sfDir: String): DataFrame = {
    val xs = LogregXScale
    gopherRules(spark, sfDir).select(
      col("doc_id"),
      (least(col("n_tokens"), lit(200)).cast("long") * 50L).as("x1s"),
      floor(col("mean_tok_len") * (xs.toDouble / 10.0) + 0.5).cast("long")
        .as("x2s"),
      when(col("n_tokens") > 0,
        floor(col("stop_hits").cast("double") /
          col("n_tokens").cast("double") * xs.toDouble + 0.5).cast("long"))
        .otherwise(0L).as("x3s"),
      col("keep").cast("long").as("y"))
  }

  def uncertaintySample(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, traj) = trainLogreg(spark, sfDir)
    val w = traj.last._3
    docFeats(spark, sfDir)
      .select(col("doc_id"), col("y"), logregPq(w).as("pq"))
      .withColumn("mu", abs(col("pq") - lit(LogregPScale / 2)))
      .orderBy(col("mu").asc, col("doc_id").asc).limit(UncertainK)
      .select(col("doc_id"), col("y").as("rule_label"),
        r4(col("pq").cast("double") / LogregPScale.toDouble).as("p"),
        r4(col("mu").cast("double") / LogregPScale.toDouble).as("margin"))
  }

  val uncertaintySampleSql: String = {
    val xs = LogregXScale
    val ps = LogregPScale
    logregChainSql +
      s""",
         |scored AS (
         |  SELECT f2.doc_id, f2.y, $logregPqSql AS pq
         |  FROM (SELECT doc_id, y, x1s, x2s, x3s FROM f) f2,
         |       w$LogregRounds p)
         |SELECT doc_id, y AS rule_label,
         |       ${Portable.r4Sql(s"pq::DOUBLE / $ps.0")} AS p,
         |       ${Portable.r4Sql(s"abs(pq - ${ps / 2})::DOUBLE / $ps.0")}
         |         AS margin
         |FROM scored
         |ORDER BY abs(pq - ${ps / 2}) ASC, doc_id ASC
         |LIMIT $UncertainK""".stripMargin
  }

  // ------------------------------------- q245 gradient-aligned selection

  /** Selection-batch size and the target-task membership modulus (docs
    * with doc_id ≡ 0 mod this are the TARGET split — the
    * DecontamEvalModulus convention).
    */
  val GradSelectK = 20
  val GradTargetMod = 10L

  /** q245: gradient-aligned data selection (the TracIn/LESS family —
    * Pruthi et al. 2020; Xia et al. 2024): rank every candidate training
    * document by the alignment of ITS loss gradient with the mean
    * gradient of a TARGET task, g_i · ḡ — one SGD step on an aligned
    * example moves target loss down by ≈ η·(g_i · ḡ), so the top-K
    * aligned documents are the ones worth adding when optimizing for
    * the target. With the q196 logistic scorer the per-example gradient
    * is exactly (p_i − y_i)·x_i, so the whole method is closed-form in
    * the engine: one aggregation for ḡ over the target split, one
    * scoring scan, one TakeOrdered cut — no training loop beyond q196's.
    *
    * Output: the top-[[GradSelectK]] candidates with their alignment
    * score (in milli-units — the raw dot is O(1e-3) on this corpus) and
    * rule label. Parity: pq/err are the exact quantized integers; ḡ
    * components divide exact DECIMAL sums by shared constants → bit-
    * equal doubles; the score combines them in identical textual order,
    * ties by doc_id.
    *
    * Scale shape: q196's passes + one target-split aggregation
    * (map-side combinable; 4 scalars out) + one scoring scan +
    * TakeOrdered — K rows move at any corpus size.
    */
  def gradientSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, traj) = trainLogreg(spark, sfDir)
    val w = traj.last._3
    val xs = LogregXScale
    val ps = LogregPScale
    // consumed twice (the gbar collect and the final selection scan) —
    // localCheckpoint so gopherRules + scoring run once (q148 discipline)
    val feats = docFeats(spark, sfDir)
      .select(col("*"), logregPq(w).as("pq"))
      .withColumn("err", col("pq") - col("y") * ps)
      .withColumn("is_target", pmod(col("doc_id"), lit(GradTargetMod)) === 0L)
      .lineageCheckpoint()
    val gbar = feats.filter(col("is_target")).agg(
      count(lit(1)).as("n"),
      sum((col("err") * xs).cast("decimal(38,0)")).as("g0"),
      sum((col("err") * col("x1s")).cast("decimal(38,0)")).as("g1"),
      sum((col("err") * col("x2s")).cast("decimal(38,0)")).as("g2"),
      sum((col("err") * col("x3s")).cast("decimal(38,0)")).as("g3"))
      .collect()(0)
    val n = gbar.getLong(0)
    val denom = ps.toDouble * xs.toDouble * n.toDouble
    val g = (0 to 3).map(j => gbar.getDecimal(1 + j).doubleValue / denom)
    val dot = lit(g(0)) +
      lit(g(1)) * (col("x1s").cast("double") / xs.toDouble) +
      lit(g(2)) * (col("x2s").cast("double") / xs.toDouble) +
      lit(g(3)) * (col("x3s").cast("double") / xs.toDouble)
    feats.filter(!col("is_target"))
      .select(col("doc_id"), col("y").as("rule_label"),
        ((col("err").cast("double") / ps.toDouble) * dot * 1000.0)
          .as("raw"))
      .orderBy(col("raw").desc, col("doc_id").asc).limit(GradSelectK)
      .select(col("doc_id"), col("rule_label"), r4(col("raw"))
        .as("score_milli"))
  }

  val gradientSelectSql: String = {
    val xs = LogregXScale
    val ps = LogregPScale
    val m = GradTargetMod
    logregChainSql +
      s""",
         |pqd AS (
         |  SELECT f3.doc_id, f3.y, f3.x1s, f3.x2s, f3.x3s,
         |         ($logregPqSql) - f3.y * $ps AS err,
         |         (f3.doc_id % $m = 0) AS is_target
         |  FROM (SELECT doc_id, y, x1s, x2s, x3s FROM f) f3,
         |       w$LogregRounds p),
         |gb AS (
         |  SELECT count(*)::BIGINT AS n,
         |         sum(err * $xs)::HUGEINT AS g0,
         |         sum(err * x1s)::HUGEINT AS g1,
         |         sum(err * x2s)::HUGEINT AS g2,
         |         sum(err * x3s)::HUGEINT AS g3
         |  FROM pqd WHERE is_target),
         |scored AS (
         |  SELECT doc_id, y,
         |         (err::DOUBLE / $ps.0) *
         |         (gb.g0::DOUBLE / ($ps.0 * $xs.0 * gb.n::DOUBLE) +
         |          gb.g1::DOUBLE / ($ps.0 * $xs.0 * gb.n::DOUBLE) * (x1s::DOUBLE / $xs.0) +
         |          gb.g2::DOUBLE / ($ps.0 * $xs.0 * gb.n::DOUBLE) * (x2s::DOUBLE / $xs.0) +
         |          gb.g3::DOUBLE / ($ps.0 * $xs.0 * gb.n::DOUBLE) * (x3s::DOUBLE / $xs.0))
         |         * 1000.0 AS raw
         |  FROM pqd, gb WHERE NOT is_target)
         |SELECT doc_id, y AS rule_label, ${Portable.r4Sql("raw")} AS score_milli
         |FROM scored
         |ORDER BY raw DESC, doc_id ASC
         |LIMIT $GradSelectK""".stripMargin
  }

  // ----------------------------------------- q246 signal correlation

  /** q246: curation-signal agreement — the per-language Pearson
    * correlation between the two independent quality signals the
    * pipeline gates on: the q103 bigram-LM NLL (statistical "looks like
    * the corpus") and the q17 surface-quality score (rule-based). The
    * diagnostic a curation owner reads before composing gates: strongly
    * negative r (high NLL ↔ low quality) means the signals agree and a
    * single threshold family suffices; r ≈ 0 means they measure
    * DIFFERENT failure modes and both gates earn their place (what this
    * synthetic corpus shows). Moment-based Pearson — sums only, no
    * per-language rank sort (a rank formulation would partition a
    * corpus-sized window per language: the mega-key trap q172 exists to
    * avoid).
    *
    * Scale shape: the q103 scoring pass + ONE hash aggregation to
    * |langs| rows of five moments. Parity: both inputs are r4'd
    * upstream; the moment sums are unordered double adds (q89 OLS
    * precedent — association noise orders below the r4 grid); zero
    * variance pins r to 0.0 on both engines.
    */
  def signalCorrelation(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = TextOps.perplexity(spark, sfDir)
      .join(Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"),
            TextOps.qualityCol(col("text")).as("q")),
        "doc_id")
    scored.groupBy(col("lang"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("nll")).as("sx"), sum(col("q")).as("sy"),
        sum(col("nll") * col("nll")).as("sxx"),
        sum(col("q") * col("q")).as("syy"),
        sum(col("nll") * col("q")).as("sxy"))
      .select(col("lang"), col("n").cast("long").as("n_docs"),
        when((col("n") * col("sxx") - col("sx") * col("sx")) > 0.0 &&
            (col("n") * col("syy") - col("sy") * col("sy")) > 0.0,
          r4((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy")))))
          .otherwise(0.0).as("pearson_r"))
  }

  val signalCorrelationSql: String =
    s"""WITH p AS (${TextOps.perplexitySql.replace("\n", "\n  ")}),
       |s AS (
       |  SELECT p.doc_id, d.lang, p.nll, ${TextOps.qualitySqlExpr} AS q
       |  FROM p JOIN documents d USING (doc_id)),
       |m AS (
       |  SELECT lang, count(*)::DOUBLE AS n,
       |         sum(nll) AS sx, sum(q) AS sy,
       |         sum(nll * nll) AS sxx, sum(q * q) AS syy,
       |         sum(nll * q) AS sxy
       |  FROM s GROUP BY 1)
       |SELECT lang, n::BIGINT AS n_docs,
       |       CASE WHEN (n * sxx - sx * sx) > 0.0
       |             AND (n * syy - sy * sy) > 0.0
       |            THEN ${r4Sql(
          "(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")}
       |            ELSE 0.0 END AS pearson_r
       |FROM m""".stripMargin

  // --------------------------------------------- q235 curriculum schedule

  /** Per-epoch keep fractions of the quality curriculum: epoch 1 trains
    * on the cleanest quarter, epoch 2 widens to the top half, epoch 3
    * sees everything (anti-curriculum flips the list). One shared
    * constant in both plans.
    */
  val CurriculumFracs: Seq[Double] = Seq(0.25, 0.5, 1.0)

  /** q235: quality-curriculum schedule — the epoch plan of
    * curriculum-style pretraining (clean→noisy ordering, the Bengio et
    * al. 2009 recipe applied to corpus quality): epoch e admits
    * documents at or above the (1−fracₑ) global quality quantile, so
    * early epochs see only the cleanest data and later epochs widen
    * toward the full corpus. Published per epoch: the quality cutoff,
    * admitted doc/token mass, and the token share of the corpus — what
    * a training-loader owner needs to budget each epoch (and the direct
    * composition of the q17 kernel + q86/q105 quantile machinery into a
    * SCHEDULE rather than a single filter).
    *
    * Scale shape: ONE scored scan (the q105 cache discipline) feeds a
    * single 3-fraction percentile aggregate (the broadcast cut-table
    * class — `graft.quantiles.mode=approx` swaps in the constant-memory
    * sketch unchanged) and one conditional-sum pass over the scored
    * frame; output is |epochs| rows at any corpus size. No windows.
    *
    * Parity: quality is the r4'd q17 kernel; cutoffs r4 once (Spark
    * `percentile` ≡ DuckDB `quantile_cont`, the q86 precedent); every
    * admitted count is an exact integer comparison of two identical
    * doubles.
    */
  def curriculumSchedule(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        TextOps.qualityCol(col("text")).as("quality"),
        size(Portable.toks(col("text"))).cast("long").as("nt"))
      .cache()
    val cuts = scored.agg(
      Quantiles.pcts(spark, col("quality"),
        CurriculumFracs.map(f => 1.0 - f)).as("cs"),
      sum(col("nt")).as("tok_all"))
    val cutsB = broadcast(cuts)
    CurriculumFracs.zipWithIndex.map { case (f, i) =>
      scored.crossJoin(cutsB)
        .select(col("quality"), col("nt"), col("tok_all"),
          r4(element_at(col("cs"), i + 1)).as("cutoff"))
        .filter(col("quality") >= col("cutoff"))
        .groupBy(col("cutoff"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          max(col("tok_all")).as("tok_all"))
        .select(lit(i + 1).as("epoch"), r4(lit(f)).as("keep_frac"),
          col("cutoff"), col("n_docs"), col("n_tokens"),
          r4(col("n_tokens").cast("double") / col("tok_all").cast("double"))
            .as("token_share"))
    }.reduce(_ unionByName _)
  }

  val curriculumScheduleSql: String = {
    val epochs = CurriculumFracs.zipWithIndex.map { case (f, i) =>
      s"""SELECT ${i + 1} AS epoch, ${r4Sql(f.toString)} AS keep_frac,
         |       ${r4Sql(s"quantile_cont(quality, ${1.0 - f})")} AS cutoff
         |FROM s""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH s AS (
       |  SELECT doc_id, ${TextOps.qualitySqlExpr} AS quality,
       |         len(${Portable.toksSql})::BIGINT AS nt
       |  FROM documents),
       |tot AS (SELECT sum(nt)::BIGINT AS tok_all FROM s),
       |e AS (
       |  $epochs)
       |SELECT e.epoch, e.keep_frac, e.cutoff,
       |       count(*)::BIGINT AS n_docs, sum(s.nt)::BIGINT AS n_tokens,
       |       ${r4Sql("sum(s.nt)::DOUBLE / max(tot.tok_all)::DOUBLE")}
       |         AS token_share
       |FROM e JOIN s ON s.quality >= e.cutoff, tot
       |GROUP BY 1, 2, 3""".stripMargin
  }

  // ------------------------------------------- q249 RHO-loss selection

  /** Selection size, holdout membership modulus (distinct from
    * [[GradTargetMod]] so q245/q249 partition the corpus differently),
    * and the fixed-point scale for per-document NLL terms.
    */
  val RholossK = 20
  val RholossHoldoutMod = 7L
  val RholossLnScale = 1000000000L

  /** floor(ln(PScale)·scale + 0.5), computed ONCE here and embedded as the
    * same literal in both engines — the only ln both sides must agree on
    * exactly; per-document ln terms stay in the accepted floor-cell class.
    */
  private val LnPsScaled: Long =
    math.floor(math.log(LogregPScale.toDouble) * RholossLnScale + 0.5).toLong

  /** q249: reducible-holdout-loss (RHO-loss-style) data selection
    * (Mindermann et al. 2022) — score each candidate document by
    * `NLL_model(doc) − NLL_ref(doc)`, where the model is the q196
    * full-corpus logistic classifier and the reference is the SAME
    * architecture trained only on a small holdout split. High excess loss
    * means "the current model gets this wrong but it is learnable" —
    * points with high model loss AND high reference loss are noise/
    * unlearnable (both models fail), low model loss is already learned;
    * the difference isolates the worth-training-on band. The selection
    * complement to q241 (uncertainty: near the boundary) and q245
    * (gradient alignment with a target split): three selectors, three
    * different top-K rationales, one shared training machinery. Output:
    * the top-[[RholossK]] candidates with both NLLs and the excess.
    *
    * Scale shape: two GD trainings over ONE localCheckpointed feature
    * frame (the holdout side aggregates a 1/[[RholossHoldoutMod]] slice)
    * + one scoring scan + a TakeOrdered K-cut — every pass
    * map-side-combinable, K rows move at any corpus size.
    *
    * Parity: both weight trajectories carry bit-equal doubles (the q196
    * argument, per frame); per-doc probabilities are exact quantized
    * integers clamped into [1, PScale−1] before the log; NLLs are
    * integer-scaled ln cells (the q109/q247 discipline) so the ordering
    * key `nm − nr` is an exact integer with doc_id ties.
    */
  def rholossSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = LogregPScale
    val sc = RholossLnScale
    val feats = docFeats(spark, sfDir)
      .withColumn("is_ho", pmod(col("doc_id"), lit(RholossHoldoutMod)) === 0L)
      .lineageCheckpoint()
    // both chains advance in one aggregation per round (bit-equal to the
    // sequential form — see trainLogregMulti)
    val Seq(wM, wR) =
      trainLogregMulti(feats, Seq(lit(true), col("is_ho")))
    def clamp(pq: Column) = greatest(least(pq, lit(ps - 1L)), lit(1L))
    def nll(cpq: Column) = when(col("y") === 1L,
      lit(LnPsScaled) -
        floor(log(cpq.cast("double")) * sc.toDouble + 0.5).cast("long"))
      .otherwise(lit(LnPsScaled) -
        floor(log((lit(ps) - cpq).cast("double")) * sc.toDouble + 0.5)
          .cast("long"))
    feats.filter(!col("is_ho"))
      .select(col("doc_id"), col("y"),
        nll(clamp(logregPq(wM))).as("nm"), nll(clamp(logregPq(wR))).as("nr"))
      .withColumn("ex", col("nm") - col("nr"))
      .orderBy(col("ex").desc, col("doc_id").asc).limit(RholossK)
      .select(col("doc_id"), col("y").as("rule_label"),
        r4(col("nm").cast("double") / sc.toDouble).as("nll_model"),
        r4(col("nr").cast("double") / sc.toDouble).as("nll_ref"),
        r4(col("ex").cast("double") / sc.toDouble).as("excess_nll"))
  }

  val rholossSelectSql: String = {
    val ps = LogregPScale
    val sc = RholossLnScale
    val m = RholossHoldoutMod
    def nllSql(q: String) =
      s"CASE WHEN y = 1 THEN $LnPsScaled - " +
        s"floor(ln(($q)::DOUBLE) * $sc.0 + 0.5)::BIGINT " +
        s"ELSE $LnPsScaled - " +
        s"floor(ln(($ps - ($q))::DOUBLE) * $sc.0 + 0.5)::BIGINT END"
    logregChainSql +
      s""",
         |fh AS (SELECT * FROM f WHERE doc_id % $m = 0),
         |${gdRoundsSql("fh", "rs", "rw")},
         |nq AS (
         |  SELECT doc_id, y,
         |         greatest(least(${logregPqSqlAt("p")}, ${ps - 1}), 1) AS mq,
         |         greatest(least(${logregPqSqlAt("p2")}, ${ps - 1}), 1) AS rq
         |  FROM (SELECT doc_id, y, x1s, x2s, x3s FROM f
         |        WHERE doc_id % $m <> 0) f2,
         |       w$LogregRounds p, rw$LogregRounds p2),
         |nn AS (
         |  SELECT doc_id, y, ${nllSql("mq")} AS nm, ${nllSql("rq")} AS nr
         |  FROM nq)
         |SELECT doc_id, y AS rule_label,
         |       ${r4Sql(s"nm::DOUBLE / $sc.0")} AS nll_model,
         |       ${r4Sql(s"nr::DOUBLE / $sc.0")} AS nll_ref,
         |       ${r4Sql(s"(nm - nr)::DOUBLE / $sc.0")} AS excess_nll
         |FROM nn ORDER BY nm - nr DESC, doc_id ASC LIMIT $RholossK""".stripMargin
  }

  // ------------------------------------------ q259 operating-point sweep

  /** Threshold grid for the q259 sweep: decile cuts of the quantized
    * sigmoid (t·PScale/10 for t = 1..9).
    */
  val SweepThresholds: Seq[Int] = 1 to 9

  /** q259: operating-point selection for the q196 classifier — confusion
    * counts, F1, and Youden's J at every decile threshold of the score,
    * with the F1-argmax row flagged. q191 reports the threshold-free AUC
    * and q202 audits ONE fixed cut; a deployment has to PICK the cut, and
    * this is the table it picks from (F1-max for a balanced gate, J-max
    * when per-class costs are equal) — the precision/recall trade made
    * explicit before the gate ships.
    *
    * Scale shape: the q196 training passes + ONE more map-side-combinable
    * aggregation producing all |grid|×2+2 sums in a single corpus scan
    * (no per-threshold pass, no corpus×grid explode); the 9-row sweep
    * frame and its argmax are driver-sized.
    *
    * Parity: confusion counts are exact integers at exact quantized-
    * sigmoid cuts; F1/J are single divisions of exact BIGINTs (r4'd);
    * the argmax compares identical doubles with the smaller-threshold
    * tie; empty-denominator corners pinned to 0.0 on both engines.
    */
  def thresholdSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val (feats, traj) = trainLogreg(spark, sfDir)
    val w = traj.last._3
    val ps = LogregPScale
    val pq = logregPq(w)
    val y1 = col("y") === 1L
    val sums =
      Seq(count(lit(1)).as("n"), sum(when(y1, 1L).otherwise(0L)).as("np")) ++
      SweepThresholds.flatMap { t =>
        val pred = pq >= t * ps / 10
        Seq(sum(when(pred && y1, 1L).otherwise(0L)).as(s"tp$t"),
          sum(when(pred && !y1, 1L).otherwise(0L)).as(s"fp$t"))
      }
    val agg = feats.agg(sums.head, sums.tail: _*)
    val rows = agg.select(col("n"), col("np"),
      explode(array(SweepThresholds.map { t =>
        struct(lit(t).as("t"), col(s"tp$t").as("tp"), col(s"fp$t").as("fp"))
      }: _*)).as("r"))
      .select(col("r.t").as("t"), col("r.tp").as("tp"), col("r.fp").as("fp"),
        (col("np") - col("r.tp")).as("fn"),
        (col("n") - col("np") - col("r.fp")).as("tn"), col("n"), col("np"))
    val f1 = when(col("tp") * 2 + col("fp") + col("fn") === 0L, 0.0)
      .otherwise((col("tp") * 2).cast("double") /
        (col("tp") * 2 + col("fp") + col("fn")).cast("double"))
    val tpr = when(col("np") === 0L, 0.0)
      .otherwise(col("tp").cast("double") / col("np").cast("double"))
    val fpr = when(col("n") === col("np"), 0.0)
      .otherwise(col("fp").cast("double") / (col("n") - col("np")).cast("double"))
    val scoredRows = rows.select(col("t"), col("tp"), col("fp"), col("fn"),
      col("tn"), f1.as("f1d"), (tpr - fpr).as("jd"))
    val best = scoredRows.agg(max(struct(col("f1d"), (-col("t")).as("nt")))
      .as("b"))
    scoredRows.crossJoin(broadcast(best))
      .select(col("t"), col("tp"), col("fp"), col("fn"), col("tn"),
        r4(col("f1d")).as("f1"), r4(col("jd")).as("youden"),
        (col("f1d") === col("b.f1d") && col("t") === -col("b.nt"))
          .cast("int").as("best"))
  }

  val thresholdSweepSql: String = {
    val ps = LogregPScale
    val sums = SweepThresholds.map { t =>
      s"""sum(CASE WHEN pq >= ${t.toLong * ps / 10} AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS tp$t,
         |  sum(CASE WHEN pq >= ${t.toLong * ps / 10} AND y <> 1 THEN 1 ELSE 0 END)::BIGINT AS fp$t""".stripMargin
    }.mkString(",\n  ")
    val unioned = SweepThresholds.map { t =>
      s"SELECT $t AS t, tp$t AS tp, fp$t AS fp, np - tp$t AS fn, " +
        s"n - np - fp$t AS tn, n, np FROM a"
    }.mkString("\nUNION ALL\n")
    logregChainSql +
      s""",
         |sc AS (SELECT f2.y, $logregPqSql AS pq
         |       FROM (SELECT y, x1s, x2s, x3s FROM f) f2, w$LogregRounds p),
         |a AS (SELECT count(*)::BIGINT AS n,
         |  sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS np,
         |  $sums
         |  FROM sc),
         |rows_ AS ($unioned),
         |sr AS (
         |  SELECT t, tp, fp, fn, tn,
         |         CASE WHEN tp * 2 + fp + fn = 0 THEN 0.0
         |              ELSE (tp * 2)::DOUBLE / (tp * 2 + fp + fn)::DOUBLE END AS f1d,
         |         (CASE WHEN np = 0 THEN 0.0 ELSE tp::DOUBLE / np::DOUBLE END -
         |          CASE WHEN n = np THEN 0.0
         |               ELSE fp::DOUBLE / (n - np)::DOUBLE END) AS jd
         |  FROM rows_),
         |b AS (SELECT f1d AS bf, t AS bt FROM sr
         |      ORDER BY f1d DESC, t ASC LIMIT 1)
         |SELECT sr.t, sr.tp, sr.fp, sr.fn, sr.tn,
         |       ${r4Sql("sr.f1d")} AS f1, ${r4Sql("sr.jd")} AS youden,
         |       (sr.f1d = b.bf AND sr.t = b.bt)::INT AS best
         |FROM sr CROSS JOIN b""".stripMargin
  }

  // ----------------------------------------- q262 k-fold cross-validation

  /** Fold count for the q262 cross-validation (doc_id mod folds — the
    * q81/q249 deterministic-membership convention).
    */
  val CvFolds = 5

  /** q262: k-fold cross-validation of the q196 quality classifier — train
    * [[CvFolds]] models, each on the complement of one fold, and report
    * every fold's held-out confusion and accuracy. q196 reports TRAINING
    * accuracy (optimistic by construction) and q243 builds one holdout;
    * CV is the estimate a gate owner actually trusts before shipping the
    * classifier corpus-wide, and the per-fold spread is the variance bar
    * that says whether the q259 operating point is stable. Output: one
    * row per fold.
    *
    * Scale shape: ALL [[CvFolds]] GD chains advance together — one
    * map-side-combinable aggregation PER ROUND computes every fold's
    * gradient via fold-conditional sums (r15: the per-fold sequential
    * chains paid k× the passes for the same terms; each row simply
    * contributes to the k−1 complements it belongs to) + ONE final scan
    * that scores every fold's held-out half with its own weight literals
    * in a single 2k-sum aggregation — never a per-fold evaluation pass.
    *
    * Parity: per fold and round the gradient is the sum of EXACTLY the
    * same integer terms as the sequential chain (conditional 0 for the
    * fold's own rows; decimal sums are order-free), so the weight
    * trajectories are bit-equal to the q196-style per-fold loop; held-out
    * confusion counts are exact integers at exact quantized-sigmoid
    * predictions; accuracy is one r4'd division.
    */
  def crossVal(spark: SparkSession, sfDir: String): DataFrame = {
    val k = CvFolds
    val ps = LogregPScale
    val xs = LogregXScale
    val feats = docFeats(spark, sfDir)
      .withColumn("fold", pmod(col("doc_id"), lit(k.toLong))).lineageCheckpoint()
    // k parallel GD chains, one aggregation per round: fold f's gradient
    // sums rows with fold ≠ f at f's own current weights
    val ws = (0 until k).zip(trainLogregMulti(feats,
      (0 until k).map(f => col("fold") =!= f.toLong)))
    val sums = ws.flatMap { case (f, w) =>
      val inFold = col("fold") === f.toLong
      val correct = (logregPq(w) >= ps / 2) === (col("y") === 1L)
      Seq(sum(when(inFold, 1L).otherwise(0L)).as(s"n$f"),
        sum(when(inFold && correct, 1L).otherwise(0L)).as(s"c$f"))
    }
    val agg = feats.agg(sums.head, sums.tail: _*)
    // folds partition the corpus, so the total is the fold sums' sum — no
    // second pass
    val total = (0 until k).map(f => col(s"n$f")).reduce(_ + _)
    agg.select(total.as("total"), explode(array((0 until k).map { f =>
        struct(lit(f).as("fold"), col(s"n$f").as("n_test"),
          col(s"c$f").as("correct"))
      }: _*)).as("r"))
      .select(col("r.fold").as("fold"),
        (col("total") - col("r.n_test")).as("n_train"),
        col("r.n_test").as("n_test"), col("r.correct").as("correct"),
        r4(when(col("r.n_test") === 0L, 0.0)
          .otherwise(col("r.correct").cast("double") /
            col("r.n_test").cast("double"))).as("accuracy"))
  }

  val crossValSql: String = {
    val k = CvFolds
    val ps = LogregPScale
    val chains = (0 until k).map { f =>
      s"ff$f AS (SELECT * FROM f WHERE doc_id % $k <> $f),\n" +
        gdRoundsSql(s"ff$f", s"cs${f}_", s"cw${f}_")
    }.mkString(",\n")
    val evals = (0 until k).map { f =>
      s"""SELECT $f AS fold,
         |  (SELECT count(*) FROM f) - count(*)::BIGINT AS n_train,
         |  count(*)::BIGINT AS n_test,
         |  sum(CASE WHEN (pq >= ${ps / 2}) = (y = 1) THEN 1 ELSE 0 END)::BIGINT
         |    AS correct,
         |  ${r4Sql(
          s"CASE WHEN count(*) = 0 THEN 0.0 ELSE sum(CASE WHEN (pq >= ${ps / 2}) = (y = 1) THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE END")}
         |    AS accuracy
         |FROM (SELECT f2.y, ${logregPqSqlAt("p")} AS pq
         |      FROM (SELECT y, x1s, x2s, x3s FROM f WHERE doc_id % $k = $f) f2,
         |           cw${f}_$LogregRounds p)""".stripMargin
    }.mkString("\nUNION ALL\n")
    logregChainSql + ",\n" + chains + "\n" + evals
  }

  // ----------------------------------------- q267 three-gate Fleiss kappa

  /** Quality-gate cut for the third rater of q267 (on the q17 r4-grid
    * score).
    */
  val FleissQualityTau = 0.5

  /** q267: Fleiss' kappa over THREE quality gates — the q137 rule bank,
    * the q196 classifier at PScale/2, and the raw q17 quality score at
    * [[FleissQualityTau]] — treating each gate as a rater voting
    * keep/drop per document. q250 chance-corrects ONE pair; a production
    * pipeline usually has several gates voting, and Fleiss is the
    * standard multi-rater agreement statistic: high κ means the gates are
    * redundant (run the cheapest), low κ means they capture different
    * failure modes (compose them, cf. q246's signal correlations).
    * Output: one row — per-gate keep rates, observed agreement P̄, chance
    * agreement Pe, κ.
    *
    * Scale shape: the q196 training passes + ONE scan producing all three
    * votes per document → a 1-row aggregation (Σk, Σ(per-doc agreement
    * numerator) — both map-side combinable).
    *
    * Parity: votes are exact integer comparisons (quantized sigmoid,
    * integer rule label, r4-grid quality vs an exact grid literal); the
    * per-doc Fleiss numerator k²+(3−k)²−3 is an exact integer; P̄/Pe/κ
    * are per-row scalars from exact integers in identical textual order,
    * r4'd, with the Pe=1 corner pinned to 0.0.
    */
  def fleissGates(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = LogregPScale
    val (_, traj) = trainLogreg(spark, sfDir)
    val w = traj.last._3
    val q = TextOps.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("quality"))
    val votes = docFeats(spark, sfDir).join(q, "doc_id")
      .select((col("y") +
        (logregPq(w) >= ps / 2).cast("long") +
        (floor(col("quality") * 10000.0 + 0.5) >=
          math.floor(FleissQualityTau * 10000.0 + 0.5).toLong).cast("long"))
        .as("k"),
        col("y"), (logregPq(w) >= ps / 2).cast("long").as("lr"),
        (floor(col("quality") * 10000.0 + 0.5) >=
          math.floor(FleissQualityTau * 10000.0 + 0.5).toLong).cast("long")
          .as("qg"))
    val agg = votes.agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
      sum(col("k") * col("k") + (lit(3L) - col("k")) * (lit(3L) - col("k")) -
        lit(3L)).as("sp"),
      sum(col("y")).as("sr"), sum(col("lr")).as("sl"), sum(col("qg")).as("sq"))
    val nD = col("n").cast("double")
    val pKeep = col("sk").cast("double") / (nD * 3.0)
    val pBar = col("sp").cast("double") / (nD * 6.0)
    val pe = pKeep * pKeep + (lit(1.0) - pKeep) * (lit(1.0) - pKeep)
    agg.select(col("n"),
      r4(col("sr").cast("double") / nD).as("rate_rules"),
      r4(col("sl").cast("double") / nD).as("rate_lr"),
      r4(col("sq").cast("double") / nD).as("rate_quality"),
      r4(pBar).as("p_bar"), r4(pe).as("p_e"),
      r4(when(lit(1.0) - pe === 0.0, 0.0)
        .otherwise((pBar - pe) / (lit(1.0) - pe))).as("kappa"))
  }

  val fleissGatesSql: String = {
    val ps = LogregPScale
    val tauI = math.floor(FleissQualityTau * 10000.0 + 0.5).toLong
    logregChainSql +
      s""",
         |qv AS (SELECT doc_id, ${TextOps.qualitySqlExpr} AS quality
         |       FROM documents),
         |votes AS (
         |  SELECT f2.y,
         |         ($logregPqSql >= ${ps / 2})::BIGINT AS lr,
         |         (floor(qv.quality * 10000.0 + 0.5)::BIGINT >= $tauI)::BIGINT
         |           AS qg
         |  FROM (SELECT doc_id, y, x1s, x2s, x3s FROM f) f2
         |  JOIN qv ON f2.doc_id = qv.doc_id, w$LogregRounds p),
         |a AS (
         |  SELECT count(*)::BIGINT AS n,
         |         sum(y + lr + qg)::BIGINT AS sk,
         |         sum((y + lr + qg) * (y + lr + qg) +
         |             (3 - y - lr - qg) * (3 - y - lr - qg) - 3)::BIGINT AS sp,
         |         sum(y)::BIGINT AS sr, sum(lr)::BIGINT AS sl,
         |         sum(qg)::BIGINT AS sq
         |  FROM votes)
         |SELECT n,
         |       ${r4Sql("sr::DOUBLE / n::DOUBLE")} AS rate_rules,
         |       ${r4Sql("sl::DOUBLE / n::DOUBLE")} AS rate_lr,
         |       ${r4Sql("sq::DOUBLE / n::DOUBLE")} AS rate_quality,
         |       ${r4Sql("sp::DOUBLE / (n::DOUBLE * 6.0)")} AS p_bar,
         |       ${r4Sql(
          "sk::DOUBLE / (n::DOUBLE * 3.0) * (sk::DOUBLE / (n::DOUBLE * 3.0)) + (1.0 - sk::DOUBLE / (n::DOUBLE * 3.0)) * (1.0 - sk::DOUBLE / (n::DOUBLE * 3.0))")}
         |         AS p_e,
         |       ${r4Sql(
          "CASE WHEN 1.0 - (sk::DOUBLE / (n::DOUBLE * 3.0) * (sk::DOUBLE / (n::DOUBLE * 3.0)) + (1.0 - sk::DOUBLE / (n::DOUBLE * 3.0)) * (1.0 - sk::DOUBLE / (n::DOUBLE * 3.0))) = 0.0 THEN 0.0 ELSE (sp::DOUBLE / (n::DOUBLE * 6.0) - (sk::DOUBLE / (n::DOUBLE * 3.0) * (sk::DOUBLE / (n::DOUBLE * 3.0)) + (1.0 - sk::DOUBLE / (n::DOUBLE * 3.0)) * (1.0 - sk::DOUBLE / (n::DOUBLE * 3.0)))) / (1.0 - (sk::DOUBLE / (n::DOUBLE * 3.0) * (sk::DOUBLE / (n::DOUBLE * 3.0)) + (1.0 - sk::DOUBLE / (n::DOUBLE * 3.0)) * (1.0 - sk::DOUBLE / (n::DOUBLE * 3.0)))) END")}
         |         AS kappa
         |FROM a""".stripMargin
  }

  // -------------------------------------- q268 split-conformal calibration

  /** q268's three-way split modulus (doc_id mod 3: 0 = train, 1 =
    * calibration, 2 = evaluation) and the miscoverage levels swept.
    */
  val ConformalSplitMod = 3L
  val ConformalAlphas: Seq[Double] = Seq(0.1, 0.2)

  /** q268: split-conformal calibration of the q196 classifier — train on
    * split 0, take the conformal quantile q̂ of the nonconformity score
    * (PScale − score of the TRUE class) on calibration split 1 at each
    * miscoverage α, and report the ACHIEVED coverage on held-out split 2.
    * The distribution-free guarantee machinery (Vovk; split-conformal as
    * deployed): coverage ≥ 1−α holds by exchangeability REGARDLESS of how
    * good the classifier is — this table is the check that the pipeline's
    * implementation delivers it, and q̂ itself is the abstention
    * threshold a selective-prediction gate ships. Output: one row per α.
    *
    * Scale shape: one GD chain + ONE scoring scan; the conformal quantile
    * is an ORDER STATISTIC computed on the (bounded) quantized-score
    * grid — a hash agg to ≤ PScale cells, a grid-bounded cumulative pass,
    * and a 1-row argmin per α — never a corpus sort.
    *
    * Parity: nonconformity is an exact integer; k = ⌈(n+1)(1−α)⌉ from the
    * same double literal both engines; q̂ selection compares exact
    * integer cumulative counts; coverage is an exact ratio r4'd.
    */
  def conformal(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = LogregPScale
    val m = ConformalSplitMod
    val feats = docFeats(spark, sfDir)
      .withColumn("split", pmod(col("doc_id"), lit(m))).lineageCheckpoint()
    val w = trainLogregOn(feats.filter(col("split") === 0L)).last._3
    // nonconformity: PScale − score(true class), an exact integer
    val pq = logregPq(w)
    val nc = when(col("y") === 1L, lit(ps) - pq).otherwise(pq)
    val scoredAll = feats.select(col("split"), nc.as("nc"))
    // r16: the calibration cell frame feeds rangedCumSum's two passes and
    // the n_cal total — checkpoint it so the scored-feats aggregation
    // runs once, not three times
    val calCells = scoredAll.filter(col("split") === 1L)
      .groupBy(col("nc")).agg(count(lit(1)).as("cnt"))
      .lineageCheckpoint()
    val cum = ScaleOps.rangedCumSum(calCells, "nc",
      floor(col("nc") / 65536L), Seq("cnt" -> "cum"))
    val nCal = calCells.agg(sum(col("cnt")).as("n_cal"))
    val s = spark
    import s.implicits._
    val alphas = ConformalAlphas.toDF("alpha")
    // q̂ per α: the smallest grid value whose cumulative count reaches
    // k = ceil((n_cal + 1)(1 − α)), clamped to the sample maximum
    val qhat = alphas.crossJoin(broadcast(nCal))
      .crossJoin(cum.select(col("nc"), col("cum")))
      .withColumn("k",
        least(ceil((col("n_cal") + 1).cast("double") *
          (lit(1.0) - col("alpha"))).cast("long"), col("n_cal")))
      .filter(col("cum") >= col("k"))
      .groupBy(col("alpha"), col("n_cal"), col("k"))
      .agg(min(col("nc")).as("qhat"))
    val eval = scoredAll.filter(col("split") === 2L)
    val cov = eval.crossJoin(broadcast(qhat))
      .groupBy(col("alpha"), col("n_cal"), col("qhat"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("nc") <= col("qhat"), 1L).otherwise(0L)).as("covered"))
    cov.select(r4(col("alpha")).as("alpha"), col("n_cal"), col("n_eval"),
        r4(col("qhat").cast("double") / ps.toDouble).as("qhat_p"),
        r4(col("covered").cast("double") / col("n_eval").cast("double"))
          .as("coverage"),
        r4(lit(1.0) - col("alpha")).as("target"))
      .orderBy(col("alpha"))
  }

  val conformalSql: String = {
    val ps = LogregPScale
    val m = ConformalSplitMod
    val alphas = ConformalAlphas.mkString(", ")
    logregChainSql +
      s""",
         |f0 AS (SELECT * FROM f WHERE doc_id % $m = 0),
         |${gdRoundsSql("f0", "ts", "tw")},
         |sc AS (
         |  SELECT f2.doc_id % $m AS split,
         |         CASE WHEN f2.y = 1 THEN $ps - ($logregPqSql)
         |              ELSE ($logregPqSql) END AS nc
         |  FROM (SELECT doc_id, y, x1s, x2s, x3s FROM f) f2,
         |       tw$LogregRounds p),
         |cal AS (SELECT nc, count(*)::BIGINT AS cnt
         |        FROM sc WHERE split = 1 GROUP BY 1),
         |cum AS (SELECT nc,
         |               sum(cnt) OVER (ORDER BY nc ROWS UNBOUNDED PRECEDING)
         |                 ::BIGINT AS cum
         |        FROM cal),
         |ncal AS (SELECT sum(cnt)::BIGINT AS n_cal FROM cal),
         |qh AS (
         |  SELECT a.alpha, ncal.n_cal,
         |         min(c.nc) AS qhat
         |  FROM (SELECT unnest([$alphas]) AS alpha) a
         |  CROSS JOIN ncal
         |  JOIN cum c ON c.cum >= least(
         |    ceil((ncal.n_cal + 1)::DOUBLE * (1.0 - a.alpha))::BIGINT,
         |    ncal.n_cal)
         |  GROUP BY 1, 2),
         |ev AS (SELECT nc FROM sc WHERE split = 2)
         |SELECT ${r4Sql("qh.alpha")} AS alpha, qh.n_cal,
         |       count(*)::BIGINT AS n_eval,
         |       ${r4Sql(s"qh.qhat::DOUBLE / $ps.0")} AS qhat_p,
         |       ${r4Sql(
          "sum(CASE WHEN ev.nc <= qh.qhat THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE")}
         |         AS coverage,
         |       ${r4Sql("1.0 - qh.alpha")} AS target
         |FROM ev CROSS JOIN qh
         |GROUP BY qh.alpha, qh.n_cal, qh.qhat""".stripMargin
  }

  // ---------------------------------------------- q269 length-bias audit

  /** q269: length-bias audit of the q196 classifier — rule keep rate,
    * classifier keep rate, and agreement accuracy per [[LenBuckets]]
    * token-length bucket. The fairness check every learned quality gate
    * owes its corpus: length is the single most predictive (and most
    * confounded) surface feature, and a classifier whose accuracy
    * collapses in one length band is acting as a length detector there —
    * exactly the failure mode the Gopher paper warns rule distillation
    * about. Read next to q250 (chance-corrected global agreement) and
    * q259 (threshold choice): this says WHERE the disagreements live.
    *
    * Scale shape: the q196 passes + ONE scan (features + one narrow
    * token-count kernel) → a \|buckets\|-row hash agg.
    *
    * Parity: bucket caps exact integer comparisons on exact token
    * counts; votes exact integers; rates/accuracy r4 divisions.
    */
  def lengthBias(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = LogregPScale
    val (_, traj) = trainLogreg(spark, sfDir)
    val w = traj.last._3
    val nTok = size(Portable.toks(col("text"))).cast("long")
    val lens = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), nTok.as("n_tokens"))
    val cap = LenBuckets.reverse.foldLeft(col("n_tokens"): Column) { (acc, b) =>
      when(col("n_tokens") <= b, lit(b.toLong)).otherwise(acc)
    }
    docFeats(spark, sfDir).join(lens, "doc_id")
      .select(cap.cast("int").as("bucket_cap"), col("y"),
        (logregPq(w) >= ps / 2).cast("long").as("pred"))
      .groupBy(col("bucket_cap"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("ny"),
        sum(col("pred")).as("np"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("agree"))
      .select(col("bucket_cap"), col("n"),
        r4(col("ny").cast("double") / col("n").cast("double")).as("rule_rate"),
        r4(col("np").cast("double") / col("n").cast("double")).as("lr_rate"),
        r4(col("agree").cast("double") / col("n").cast("double"))
          .as("accuracy"))
  }

  val lengthBiasSql: String = {
    val ps = LogregPScale
    val cap = LenBuckets.map(b => s"WHEN n_tokens <= $b THEN $b")
      .mkString(" ")
    logregChainSql +
      s""",
         |lens AS (SELECT doc_id, len(${Portable.toksSql})::BIGINT AS n_tokens
         |         FROM documents),
         |sc AS (
         |  SELECT (CASE $cap ELSE n_tokens END)::INT AS bucket_cap,
         |         f2.y, ($logregPqSql >= ${ps / 2})::BIGINT AS pred
         |  FROM (SELECT doc_id, y, x1s, x2s, x3s FROM f) f2
         |  JOIN lens ON f2.doc_id = lens.doc_id, w$LogregRounds p)
         |SELECT bucket_cap, count(*)::BIGINT AS n,
         |       ${r4Sql("sum(y)::DOUBLE / count(*)::DOUBLE")} AS rule_rate,
         |       ${r4Sql("sum(pred)::DOUBLE / count(*)::DOUBLE")} AS lr_rate,
         |       ${r4Sql(
          "sum(CASE WHEN pred = y THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE")}
         |         AS accuracy
         |FROM sc GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------ q271 learning curve

  /** Nested training-subset densities (out of [[LearnCurveDen]]) and the
    * holdout convention (doc_id mod 3 = 2, q268's evaluation third).
    */
  val LearnCurveDen = 8L
  val LearnCurveKs: Seq[Int] = Seq(1, 2, 4, 8)

  /** q271: data learning curve for the q196 classifier — train on NESTED
    * deterministic subsets of the training pool (1/8, 1/4, 1/2, all) and
    * report each model's accuracy on one fixed holdout third. The
    * is-more-data-still-helping curve: the marginal-value reading behind
    * every acquisition/retention decision this engine's selection ops
    * (q241/q245/q249) optimize, and the gate that says whether the
    * classifier has saturated (flat curve → spend on better FEATURES or
    * LABELS, not more rows). Nested subsets (id mod [[LearnCurveDen]] <
    * k) so each point's training set contains the previous — the curve
    * measures data volume, not sample luck.
    *
    * Scale shape: \|Ks\| GD chains over ONE localCheckpointed feature
    * frame (each round map-side-combinable over a k/8 slice) + ONE
    * 2·\|Ks\|-sum holdout scan scoring every model at its own weight
    * literals — the q262 single-pass-eval pattern.
    *
    * Parity: per-chain trajectories bit-equal per frame; holdout
    * confusion exact ints; accuracy one r4 division.
    */
  def learningCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = LogregPScale
    val den = LearnCurveDen
    val feats = docFeats(spark, sfDir)
      .withColumn("is_ho", pmod(col("doc_id"), lit(3L)) === 2L)
      .withColumn("cell", pmod(col("doc_id"), lit(den)))
      .lineageCheckpoint()
    // every curve point's chain advances in one aggregation per round
    // (bit-equal to the sequential per-k form — see trainLogregMulti)
    val ws = LearnCurveKs.zip(trainLogregMulti(feats,
      LearnCurveKs.map(k => !col("is_ho") && col("cell") < k.toLong)))
    val nTrains = LearnCurveKs.map { k =>
      sum((!col("is_ho") && col("cell") < k.toLong).cast("long"))
        .as(s"tr$k")
    }
    val sums = ws.flatMap { case (k, w) =>
      val correct = (logregPq(w) >= ps / 2) === (col("y") === 1L)
      Seq(sum(when(col("is_ho"), 1L).otherwise(0L)).as(s"n$k"),
        sum(when(col("is_ho") && correct, 1L).otherwise(0L)).as(s"c$k"))
    } ++ nTrains
    val agg = feats.agg(sums.head, sums.tail: _*)
    agg.select(explode(array(LearnCurveKs.map { k =>
        struct(lit(k).as("k"), col(s"tr$k").as("n_train"),
          col(s"n$k").as("n_test"), col(s"c$k").as("correct"))
      }: _*)).as("r"))
      .select(col("r.k").as("k"),
        r4(col("r.k").cast("double") / den.toDouble).as("train_frac"),
        col("r.n_train").as("n_train"), col("r.n_test").as("n_test"),
        col("r.correct").as("correct"),
        r4(when(col("r.n_test") === 0L, 0.0)
          .otherwise(col("r.correct").cast("double") /
            col("r.n_test").cast("double"))).as("accuracy"))
  }

  val learningCurveSql: String = {
    val ps = LogregPScale
    val den = LearnCurveDen
    val chains = LearnCurveKs.map { k =>
      s"lf$k AS (SELECT * FROM f WHERE doc_id % 3 <> 2 AND doc_id % $den < $k),\n" +
        gdRoundsSql(s"lf$k", s"ls${k}_", s"lw${k}_")
    }.mkString(",\n")
    val evals = LearnCurveKs.map { k =>
      s"""SELECT $k AS k, ${r4Sql(s"$k::DOUBLE / $den.0")} AS train_frac,
         |  (SELECT count(*) FROM lf$k)::BIGINT AS n_train,
         |  count(*)::BIGINT AS n_test,
         |  sum(CASE WHEN (pq >= ${ps / 2}) = (y = 1) THEN 1 ELSE 0 END)::BIGINT
         |    AS correct,
         |  ${r4Sql(
          s"CASE WHEN count(*) = 0 THEN 0.0 ELSE sum(CASE WHEN (pq >= ${ps / 2}) = (y = 1) THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE END")}
         |    AS accuracy
         |FROM (SELECT f2.y, ${logregPqSqlAt("p")} AS pq
         |      FROM (SELECT y, x1s, x2s, x3s FROM f WHERE doc_id % 3 = 2) f2,
         |           lw${k}_$LogregRounds p)""".stripMargin
    }.mkString("\nUNION ALL\n")
    logregChainSql + ",\n" + chains + "\n" + evals
  }

  // ------------------------------------------ q279 distinctive terms

  /** Dirichlet smoothing mass per token and the per-source output depth
    * of the q279 log-odds audit.
    */
  val FwAlpha = 1.0
  val FwTopK = 3

  /** q279: distinctive terms per source — the Dirichlet-smoothed
    * log-odds-ratio z-scores of Monroe et al. 2008 ("Fightin' Words"),
    * top-[[FwTopK]] per source. THE corpus-linguistics answer to "what
    * is this source actually full of": raw TF-IDF over-rewards rare
    * typos and raw frequency over-rewards stopwords; the smoothed
    * log-odds z corrects both, which is why dataset cards and
    * domain-mix audits quote it. Output: per (source, rank) — the term,
    * its in-source count, and the z-score.
    *
    * Scale shape: one token explode → a (source × token) hash agg (the
    * q54 tf shape); token totals are that grid re-aggregated; the
    * scoring join is vocab-keyed (Zipf-flat after the grid agg); the
    * per-source top-k window partitions on source over vocab-bounded
    * partitions (the q54 top-k precedent).
    *
    * Parity: counts exact integers; δ/σ are per-row scalars from exact
    * ints with PINNED α literals in identical textual order; the rank
    * key is z quantized to the 1e9 grid (ln's 1-ulp cross-engine skew
    * cannot reorder the window — the q109 floor-cell class), token ties
    * ascending; z r4'd at the output.
    */
  def fightinWords(spark: SparkSession, sfDir: String): DataFrame = {
    val a = FwAlpha
    val ys = Tables.documents(spark, sfDir)
      .select(col("source"), explode(Portable.toks(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("yst"))
    val yt = ys.groupBy(col("token")).agg(sum(col("yst")).as("yt"))
    val ns = ys.groupBy(col("source")).agg(sum(col("yst")).as("ns"))
    val tot = yt.agg(sum(col("yt")).as("n"), count(lit(1)).as("v"))
    val a0 = col("v").cast("double") * a
    val dlt =
      log((col("yst").cast("double") + a) /
        (col("ns").cast("double") + a0 - col("yst").cast("double") - a)) -
      log((col("yt").cast("double") + a) /
        (col("n").cast("double") + a0 - col("yt").cast("double") - a))
    val sig = sqrt(lit(1.0) / (col("yst").cast("double") + a) +
      lit(1.0) / (col("yt").cast("double") + a))
    val scored = ys.join(yt, "token").join(ns, "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("token"), col("yst"),
        floor(dlt / sig * 1000000000L + 0.5).cast("long").as("zi"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("zi").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= FwTopK)
      .select(col("source"), col("rank"), col("token"), col("yst"),
        r4(col("zi").cast("double") / 1000000000L).as("z"))
  }

  val fightinWordsSql: String = {
    val a = FwAlpha
    val dlt =
      s"""ln((yst::DOUBLE + $a) / (ns::DOUBLE + v::DOUBLE * $a - yst::DOUBLE - $a))
         | - ln((yt::DOUBLE + $a) / (n::DOUBLE + v::DOUBLE * $a - yt::DOUBLE - $a))""".stripMargin
    val sig = s"sqrt(1.0 / (yst::DOUBLE + $a) + 1.0 / (yt::DOUBLE + $a))"
    s"""WITH ys AS (
       |  SELECT source, token, count(*)::BIGINT AS yst
       |  FROM (SELECT source, unnest(${Portable.toksSql}) AS token
       |        FROM documents)
       |  GROUP BY 1, 2),
       |yt AS (SELECT token, sum(yst)::BIGINT AS yt FROM ys GROUP BY 1),
       |ns AS (SELECT source, sum(yst)::BIGINT AS ns FROM ys GROUP BY 1),
       |tot AS (SELECT sum(yt)::BIGINT AS n, count(*)::BIGINT AS v FROM yt),
       |scored AS (
       |  SELECT ys.source, ys.token, ys.yst,
       |         floor(($dlt)
       |               / ($sig) * 1000000000 + 0.5)::BIGINT AS zi
       |  FROM ys JOIN yt USING (token) JOIN ns USING (source)
       |  CROSS JOIN tot),
       |ranked AS (
       |  SELECT source, token, yst, zi,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY zi DESC, token ASC) AS rank
       |  FROM scored)
       |SELECT source, rank::INT AS rank, token, yst,
       |       ${r4Sql("zi::DOUBLE / 1000000000.0")} AS z
       |FROM ranked WHERE rank <= $FwTopK""".stripMargin
  }

  // ------------------------------------------- q250 gate-agreement kappa

  /** q250: Cohen's kappa between the two quality gates the pipeline can
    * run — the q137 hard rule bank (the label) and the q196 distilled
    * classifier (the prediction) — per language. q202 reports raw
    * accuracy; kappa corrects it for chance agreement (a gate pair that
    * both pass 95% of documents agrees 90%+ by luck alone), which is the
    * number to read before claiming the classifier "replicates" the rules
    * on a skewed-keep-rate corpus, and per LANGUAGE because keep-rate
    * skew (hence chance agreement) differs by language. Output: one row
    * per language — n, observed agreement, chance agreement, kappa.
    *
    * Scale shape: the q196 training passes + ONE scoring scan joined to
    * the doc→lang dimension, hash-aggregated to |langs| rows; the kappa
    * arithmetic runs on the aggregate frame only.
    *
    * Parity: EXACT-INTEGER kappa — κ = (agree·n − a1·b1 − a0·b0) /
    * (n² − a1·b1 − a0·b0) with products in DECIMAL(38,0)/HUGEINT (no
    * overflow at any corpus size), one r4'd division per output column,
    * and the constant-gate corner (denominator 0) pinned to 0.0 on both
    * engines.
    */
  def kappaGates(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, traj) = trainLogreg(spark, sfDir)
    val w = traj.last._3
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val scored = docFeats(spark, sfDir)
      .select(col("doc_id"), col("y"),
        (logregPq(w) >= LogregPScale / 2).as("pred"))
    val cells = scored.join(d, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred"), 1L).otherwise(0L)).as("a1"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("b1"),
        sum(when(col("pred") === (col("y") === 1L), 1L).otherwise(0L))
          .as("agree"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val peNum = dec(col("a1")) * dec(col("b1")) +
      dec(col("n") - col("a1")) * dec(col("n") - col("b1"))
    val den = dec(col("n")) * dec(col("n")) - peNum
    cells.select(col("lang"), col("n"),
      r4(col("agree").cast("double") / col("n").cast("double")).as("po"),
      r4(peNum.cast("double") /
        (dec(col("n")) * dec(col("n"))).cast("double")).as("pe"),
      when(den === lit(0).cast("decimal(38,0)"), 0.0)
        .otherwise(r4((dec(col("agree") * col("n")) - peNum).cast("double") /
          den.cast("double"))).as("kappa"))
  }

  val kappaGatesSql: String = {
    val ps = LogregPScale
    logregChainSql +
      s""",
         |pr AS (
         |  SELECT doc_id, y, ($logregPqSql >= ${ps / 2}) AS pred
         |  FROM (SELECT doc_id, y, x1s, x2s, x3s FROM f) f2,
         |       w$LogregRounds p),
         |cells AS (
         |  SELECT d.lang, count(*)::BIGINT AS n,
         |         sum(CASE WHEN pred THEN 1 ELSE 0 END)::BIGINT AS a1,
         |         sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS b1,
         |         sum(CASE WHEN pred = (y = 1) THEN 1 ELSE 0 END)::BIGINT
         |           AS agree
         |  FROM pr JOIN documents d ON pr.doc_id = d.doc_id
         |  GROUP BY 1)
         |SELECT lang, n,
         |       ${r4Sql("agree::DOUBLE / n::DOUBLE")} AS po,
         |       ${r4Sql("(a1::HUGEINT * b1 + (n - a1)::HUGEINT * (n - b1))::DOUBLE / (n::HUGEINT * n)::DOUBLE")} AS pe,
         |       CASE WHEN n::HUGEINT * n - (a1::HUGEINT * b1 + (n - a1)::HUGEINT * (n - b1)) = 0 THEN 0.0
         |            ELSE ${r4Sql("(agree::HUGEINT * n - (a1::HUGEINT * b1 + (n - a1)::HUGEINT * (n - b1)))::DOUBLE / (n::HUGEINT * n - (a1::HUGEINT * b1 + (n - a1)::HUGEINT * (n - b1)))::DOUBLE")}
         |       END AS kappa
         |FROM cells""".stripMargin
  }
}
