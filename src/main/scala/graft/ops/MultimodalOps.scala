package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpointing.LineageSyntax
import graft.Tables

/** Multimodal-column plumbing: image/audio/video as opaque `binary` payloads
  * with typed metadata, processed batch-wise per partition.
  *
  * The decode step is a clearly-marked deterministic STUB (the container has
  * no image/audio codecs): [[FakeDecoder.decode]] computes a 16-bin byte
  * histogram "embedding" from the payload. Everything around it — the
  * (payload, meta) schema, the typed `Dataset.mapPartitions` batch shape
  * (the JVM analog of `mapInPandas`: one iterator per partition, amortized
  * per-batch setup, no per-row driver involvement), the frame-sampling
  * explode, the pooling resize — is real, tested Spark plumbing that a real
  * decoder drops into by replacing ONE function.
  *
  * Scale notes: payloads stay columnar-compressed in parquet until the
  * partition iterator touches them; decode is a narrow transformation (no
  * shuffle), so 100 TB of media decodes at scan parallelism. Feature
  * extraction output (small fixed-width vectors) is what flows into the
  * similarity/dedup operators above — the heavy bytes never shuffle.
  */
object MultimodalOps {

  val HistBins = 16

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int)
  final case class MediaFeatures(media_id: Long, n_bytes: Int, features: Seq[Double])
  final case class MediaFrame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** STUB decoder — replace with a real codec where available. Deterministic:
    * normalized histogram of `byte % HistBins` (unsigned).
    */
  object FakeDecoder {
    def decode(payload: Array[Byte]): Seq[Double] = {
      val counts = new Array[Long](HistBins)
      var i = 0
      while (i < payload.length) {
        counts((payload(i) & 0xFF) % HistBins) += 1
        i += 1
      }
      val n = math.max(payload.length, 1).toDouble
      counts.toSeq.map(_ / n)
    }
  }

  /** Synthesize a media table from `documents` (UTF-8 bytes as the payload;
    * deterministic metadata) — stands in for `spark.read` of a real media
    * dataset.
    */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documentsPar(spark, sfDir)
      .select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
        encode(col("text"), "utf-8").as("payload"),
        (col("doc_id") % 640 + 64).cast("int").as("width"),
        (col("doc_id") % 480 + 48).cast("int").as("height"))
      .as[MediaRow]
  }

  /** Batch feature extraction: one decoder instantiation per partition, rows
    * streamed through it (mapInPandas-shaped).
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition setup would go here (codec init, model load, …)
      rows.map(r => MediaFeatures(r.media_id, r.payload.length,
        FakeDecoder.decode(r.payload)))
    }
  }

  /** Frame sampling: every `stride`-th fixed-size window of the payload
    * becomes one frame row (video keyframe-sampling shape).
    */
  def sampleFrames(media: Dataset[MediaRow], frameBytes: Int = 32,
      stride: Int = 4): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val n = r.payload.length / frameBytes
      (0 until n by stride).map { f =>
        MediaFrame(r.media_id, f,
          java.util.Arrays.copyOfRange(r.payload, f * frameBytes, (f + 1) * frameBytes))
      }
    }
  }

  /** Average-pool features to a coarser width (resize shape). */
  def poolFeatures(feats: Dataset[MediaFeatures], factor: Int = 4): Dataset[MediaFeatures] = {
    import feats.sparkSession.implicits._
    feats.map { f =>
      val pooled = f.features.grouped(factor).map(g => g.sum / g.size).toSeq
      f.copy(features = pooled)
    }
  }

  /** q30: media pipeline as a query — synthesize → decode → flatten the
    * feature vector into oracle-comparable columns.
    */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = extractFeatures(mediaTable(spark, sfDir))
    val r4 = (c: org.apache.spark.sql.Column) => floor(c * 10000.0 + 0.5) / 10000.0
    feats.toDF().select(
      col("media_id") +: col("n_bytes") +:
        (0 until HistBins).map(b => r4(element_at(col("features"), b + 1)).as(s"f$b")): _*)
  }

  /** q58: frame sampling as a gate query — every 4th 32-byte window of each
    * payload becomes a frame row, checksummed for comparison (md5 of the
    * frame bytes; payloads are ASCII so the DuckDB oracle reproduces the
    * same bytes from the source text). The explode is a narrow flatMap —
    * frames inherit scan parallelism, no shuffle.
    */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame =
    sampleFrames(mediaTable(spark, sfDir)).toDF()
      .select(col("media_id"), col("frame_idx"),
        md5(col("frame")).as("frame_md5"))

  val frameSampleSql: String =
    """SELECT media_id, f::INT AS frame_idx,
      |       md5(substring(text, (f * 32)::INT + 1, 32)) AS frame_md5
      |FROM (SELECT doc_id AS media_id, text,
      |             unnest(range(0, greatest(length(text) // 32, 0))) AS f
      |      FROM documents)
      |WHERE f % 4 = 0""".stripMargin

  /** Oracle: the documents are ASCII, so byte histogram ≡ char-code histogram
    * — expressible in DuckDB over the same text.
    */
  val mediaFeaturesSql: String = {
    val chars = "string_split_regex(text, '')"
    val fCols = (0 until HistBins).map { b =>
      s"floor((len(list_filter($chars, c -> ord(c) % $HistBins = $b))::DOUBLE / " +
        s"greatest(length(text), 1)) * 10000.0 + 0.5) / 10000.0 AS f$b"
    }.mkString(",\n       ")
    s"""SELECT doc_id AS media_id, length(text)::INT AS n_bytes,
       |       $fCols
       |FROM documents""".stripMargin
  }

  // ---------------------------------------- q125 perceptual-hash dedup

  /** aHash geometry: 64 cells (the classic 8×8 downsample), banded into 8
    * 8-bit chunks for the LSH-style candidate join; pairs at hamming ≤
    * [[PhashMaxHamming]] are near-duplicates.
    *
    * Threshold calibration (the [[Similarity.NearDupThreshold]] story):
    * real near-dup images land at hamming ≤ 5, inside the triple-band
    * pigeonhole guarantee (≤ 5 dirty bits leave ≥ 3 clean chunks, whose
    * triple band matches — candidate set complete; hamming 6 with all
    * six dirty bits in distinct chunks is the first probabilistic case,
    * the window the r5 pair→triple widening traded for its 256×
    * candidate cut). The synthetic payloads are i.i.d. word soup whose
    * hashes sit near random (min observed pair = 8), so the gate
    * threshold is set at 12 where the corpus has tail mass — candidates
    * beyond hamming 5 are found only when a chunk triple happens to
    * match (an approximate generator, like any LSH; the oracle mirrors
    * the same candidate rule, so parity stays exact).
    */
  val PhashCells = 64
  val PhashChunks = 8
  val PhashMaxHamming = 12

  /** Session-conf key PINNING the q125 band arity — how many of the 8
    * chunks each LSH band concatenates: 2 (pairs), 3 (triples, the gate
    * geometry on sparse corpora), or 4 (quadruples). When UNSET (the
    * default), the arity is chosen by the measured density probe in
    * [[phashAdaptiveArity]] — the r10 upgrade from a manual widening
    * flip to an automatic valve, oracle-mirrored. The conf remains for
    * ModeBench's per-arity sweeps and for consumers that need a specific
    * guaranteed-recall window regardless of density.
    */
  val PhashArityKey = "graft.phash.arity"
  val PhashDefaultArity = 3

  /** The guaranteed-recall window for a band arity, published next to
    * [[PhashMaxHamming]] so consumers see BOTH knobs: pairs at hamming ≤
    * [[PhashMaxHamming]] are REPORTED, but only pairs at hamming ≤
    * `PhashChunks − arity` are GUARANTEED found (pigeonhole: ≤ that many
    * dirty bits leave ≥ arity clean chunks, so some band matches).
    * Beyond the window, candidates are probabilistic — each arity step
    * (window 6 → 5 → 4) buys a ~256× candidate cut. Distance-6 pairs
    * that the r4 pair bands always found are only probabilistically
    * found at the default triple arity; a consumer needing that window
    * back sets arity 2 and pays the measured candidate volume.
    */
  def phashGuaranteedHamming(arity: Int): Int = PhashChunks - arity

  def phashArity(spark: SparkSession): Int = {
    val a = spark.conf.getOption(PhashArityKey).map(_.toInt)
      .getOrElse(PhashDefaultArity)
    require(a >= 2 && a <= 4, s"$PhashArityKey must be 2, 3, or 4; got $a")
    a
  }

  /** DENSITY-ADAPTIVE arity (r10, the [[GraphOps.adaptiveSupport]]
    * discipline applied to the band geometry): when [[PhashArityKey]] is
    * NOT set, the arity is picked from a measured hash-density probe
    * instead of a fixed default — the r9 ×25 run showed the fixed
    * triple-band default going 3.47× for ×2.5 data on a replica-dense
    * corpus, and the documented C(8,4) escalation was a manual conf flip.
    *
    * The probe: per chunk position k, the collision mass
    * S_k = Σ_v n_{k,v}² (n_{k,v} = docs whose k-th chunk equals v).
    * Under chunk independence the expected triple-band candidate volume
    * is Σ_{i<j<k} S_i·S_j·S_k / N⁴ — correlation between chunks makes
    * this an UNDERestimate of the true volume (measured ~100× low on the
    * replica corpus), which only makes the valve fire EARLIER relative
    * to the threshold, never later.
    * As a decision statistic it cleanly separates the measured corpora
    * (est/N = 0.02 at sf0.01, 0.13 at sf0.1 — triples; 1.31 at sf1, 3.31
    * at sf2.5 — quadruples). Decision rule, all integer arithmetic:
    *
    *   arity = 4  iff  Σ_{i<j<k} S_i·S_j·S_k ≥ N⁵   (est ≥ N), else 3.
    *
    * Probe cost: the chunk kernel pass (shared shape with the query
    * itself) + ONE aggregation with ≤ 8·256 groups — map-side
    * collapsible, no corpus-sized exchange; the 8-row combination sum is
    * driver-side BigInt. The oracle mirrors the identical rule over the
    * identical integers (HUGEINT arithmetic), so the chosen geometry can
    * never desync. An explicit [[PhashArityKey]] conf still overrides
    * (ModeBench's per-arity sweeps pin it).
    */
  private[graft] def phashArityFor(n: Long, s3: BigInt): Int =
    if (n > 0 && s3 >= BigInt(n).pow(5)) 4 else PhashDefaultArity

  /** The probe itself, off an already-hashed (media_id, chunks) frame —
    * S_k per chunk position (≤ 8×256 groups) + N in one cheap
    * aggregation, then the 56-term combination sum driver-side in BigInt.
    */
  private[graft] def arityFromHashed(hashed: DataFrame): Int = {
    val s = hashed
      .select(posexplode(col("chunks")).as(Seq("ci", "cv")))
      .groupBy(col("ci"), col("cv")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("ci"))
      .agg(sum(col("cnt") * col("cnt")).as("s"), sum(col("cnt")).as("nn"))
      .collect()
    val n = if (s.isEmpty) 0L else s.head.getAs[Long]("nn")
    val sk = s.map(r => (r.getAs[Int]("ci"), BigInt(r.getAs[Long]("s"))))
      .sortBy(_._1).map(_._2)
    val s3 = (for {
      i <- sk.indices; j <- (i + 1) until sk.length
      k <- (j + 1) until sk.length
    } yield sk(i) * sk(j) * sk(k)).sum
    phashArityFor(n, s3)
  }

  private def pinnedArity(conf: String): Int = {
    val a = conf.toInt
    require(a >= 2 && a <= 4, s"$PhashArityKey must be 2, 3, or 4; got $a")
    a
  }

  def phashAdaptiveArity(spark: SparkSession, sfDir: String): Int =
    spark.conf.getOption(PhashArityKey) match {
      case Some(a) => pinnedArity(a)
      case None =>
        import spark.implicits._
        arityFromHashed(mediaTable(spark, sfDir)
          .mapPartitions(rows =>
            rows.map(r => MediaHash(r.media_id, phashChunks(r.payload))))
          .toDF())
    }

  final case class MediaHash(media_id: Long, chunks: Seq[Int])

  /** Average-hash of a payload: mean byte value per cell vs the global
    * mean, one bit per cell. The bit comparison is integer
    * cross-multiplication (`cell_sum·n > total·cell_len`) — exact on any
    * engine, no float means. An empty (or constant-byte) payload hashes
    * to all-zero bits on both engines by the strict inequality.
    */
  def phashChunks(payload: Array[Byte]): Seq[Int] = {
    val n = payload.length
    var total = 0L
    var i = 0
    while (i < n) { total += (payload(i) & 0xFF); i += 1 }
    val bits = (0 until PhashCells).map { c =>
      val s = (c.toLong * n / PhashCells).toInt
      val e = ((c + 1).toLong * n / PhashCells).toInt
      var cs = 0L
      var j = s
      while (j < e) { cs += (payload(j) & 0xFF); j += 1 }
      // exact integer comparison of cell mean vs global mean; cs·n ≤
      // 255·n² keeps everything inside Long for payloads < ~190 MB
      cs * n > total * (e - s)
    }
    (0 until PhashChunks).map { k =>
      (0 until 8).foldLeft(0) { (acc, j) =>
        if (bits(k * 8 + j)) acc | (1 << j) else acc
      }
    }
  }

  /** q125: perceptual-hash near-duplicate pairs over the media table — the
    * multimodal analog of the q24 SimHash pipeline: a content hash whose
    * hamming distance tracks perceptual similarity, banded so candidates
    * come from an equi-join, verified exactly, MaxPostings-capped.
    *
    * Banding is on CHUNK TRIPLES: a single 8-bit chunk has only 256 keys
    * (bucket growth O(N/256), candidates O(N²/256) — measured 18× wall
    * growth for 10× data), and the C(8,2)=28 PAIR bands (2¹⁶ keys) that
    * replaced it saturated at the next scale point — the ×25 corpus
    * measured 51M candidate pairs with max bucket 662, still under the
    * MaxPostings cap, 5.5× wall for 2.5× data. The C(8,3)=56 TRIPLE bands
    * have 2²⁴ keys each: bucket population drops another ~256-fold and the
    * measured candidate volume returns to near-linear (see the r5 scale
    * table in BASELINE.md). Pigeonhole: hamming ≤ 5 dirties ≤ 5 chunks,
    * leaving ≥ 3 clean ones whose triple band matches — the
    * guaranteed-recall window narrows one more step (single 7 → pair 6 →
    * triple 5), the price of each 256× candidate reduction; beyond it
    * candidates are probabilistic, see [[PhashMaxHamming]]. The arity is
    * a session conf ([[PhashArityKey]]): the widening to quadruples
    * (window 4) when N passes tens of millions is a conf flip, measured
    * per-arity by ModeBench; [[phashGuaranteedHamming]] publishes the
    * recall window for each step.
    *
    * The hash computation itself is the typed mapPartitions batch shape —
    * where a real image pipeline would decode + downsample, the stub
    * averages payload cells (the honest-stub contract of q30/q58; the
    * banding/verify plumbing downstream is codec-agnostic and real).
    */
  /** The candidate pairs (pre-verify) at the session's band arity — the
    * ModeBench probe: candidate VOLUME is what grows superlinearly when a
    * band geometry saturates, so it is published per-arity next to wall
    * and shuffle.
    */
  def phashCandidateCount(spark: SparkSession, sfDir: String): Long =
    phashCandidates(spark, sfDir).count()

  def phashCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hashedBase = mediaTable(spark, sfDir)
      .mapPartitions(rows =>
        rows.map(r => MediaHash(r.media_id, phashChunks(r.payload))))
      .toDF()
    // ONE payload pass whichever way the arity is chosen: with the conf
    // pinned there is no probe, so the kernel output flows straight into
    // banding; in adaptive mode the tiny (id, 8-chunk) frame is
    // localCheckpointed so the probe AND the banding read the
    // materialization instead of each re-scanning/re-hashing the
    // payloads (the heavy part at 100 TB is the payload scan, not the
    // ≤ 9-value rows this keeps)
    val (hashed, arity) = spark.conf.getOption(PhashArityKey) match {
      case Some(a) => (hashedBase, pinnedArity(a))
      case None =>
        val h = hashedBase.lineageCheckpoint()
        (h, arityFromHashed(h))
    }
    candidatesFromHashed(hashed, arity)
  }

  /** The banding stage off an already-hashed (media_id, chunks) frame, so
    * the arity probe and the banding read ONE hashed frame: on
    * decode-shaped 4 MB payloads that measured 2.22× faster than hashing
    * the payloads once per consumer (BASELINE.md).
    */
  private[graft] def candidatesFromHashed(hashed: DataFrame, arity: Int)
      : DataFrame = {
    // all C(8, arity) chunk combinations; band_val is the base-256
    // concatenation (Long — quadruples reach 2³²), band_idx the
    // combination's enumeration index
    val bandDefs = (0 until PhashChunks).combinations(arity).toSeq
    val bandVals = array(bandDefs.map { comb =>
      comb.foldLeft(lit(0L)) { (acc, i) =>
        acc * 256 + element_at(col("chunks"), i + 1)
      }
    }: _*)
    val banded = hashed.select(col("media_id"), col("chunks"),
      posexplode(bandVals).as(Seq("band_idx", "band_val")))
    // pairs-within-buckets via sorted postings (the family idiom); chunk
    // arrays ride along so the verify needs no join back
    banded
      .groupBy(col("band_idx"), col("band_val"))
      .agg(sort_array(collect_list(struct(col("media_id"), col("chunks")))).as("ms"))
      .filter(size(col("ms")).between(2, Dedup.MaxPostings))
      .select(posexplode(col("ms")).as(Seq("i", "a")), col("ms"))
      .select(col("a.media_id").as("media_a"), col("a.chunks").as("ca"),
        explode(slice(col("ms"), col("i") + 2, size(col("ms")))).as("b"))
      .select(col("media_a"), col("ca"),
        col("b.media_id").as("media_b"), col("b.chunks").as("cb"))
      .dropDuplicates("media_a", "media_b")
  }

  def phashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = phashCandidates(spark, sfDir)
    val ham = aggregate(
      zip_with(col("ca"), col("cb"), (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, x) => acc + x)
    cand.select(col("media_a"), col("media_b"), ham.cast("int").as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)
  }

  /** One arity's band → live → cand → scored CTE chain (suffix `$a`).
    * band_val is the base-256 concatenation as BIGINT (quadruples exceed
    * INT32); band_idx enumerates the combination by positional radix.
    *
    * The arity guard `(SELECT arity FROM sel) = a` is pushed INTO the
    * bands CTE (r11): with the guard only in the final UNION branches'
    * WHERE, the oracle engine may fully evaluate BOTH arities' band
    * self-joins before discarding one — the quadratic part of the dead
    * branch. Inside bands$a the uncorrelated scalar subquery zeroes the
    * dead branch's band rows at the explode, so its self-join and verify
    * run over empty input whichever arity the probe picks.
    */
  private def phashBandCtes(a: Int): String = {
    val vars = (0 until a).map(i => ('i' + i).toChar.toString)
    val ranges = vars.map(v => s"range(0, $PhashChunks) $v($v)").mkString(", ")
    val ordered = vars.sliding(2).map(p => s"${p(0)}.${p(0)} < ${p(1)}.${p(1)}")
      .mkString(" AND ")
    val idx = vars.map(v => s"$v.$v")
      .reduceLeft((acc, v) => s"($acc * $PhashChunks + $v)")
    val value = vars.map(v => s"ch[$v.$v + 1]::BIGINT")
      .reduceLeft((acc, v) => s"($acc * 256 + $v)")
    s"""bands$a AS (
       |  SELECT media_id, ($idx)::INT AS band_idx, $value AS band_val
       |  FROM hv, $ranges
       |  WHERE $ordered AND (SELECT arity FROM sel) = $a),
       |live$a AS (SELECT band_idx, band_val FROM bands$a GROUP BY 1, 2
       |           HAVING count(*) BETWEEN 2 AND ${Dedup.MaxPostings}),
       |cand$a AS (
       |  SELECT DISTINCT x.media_id AS media_a, y.media_id AS media_b
       |  FROM bands$a x
       |  JOIN bands$a y ON x.band_idx = y.band_idx
       |              AND x.band_val = y.band_val
       |              AND x.media_id < y.media_id
       |  JOIN live$a l ON x.band_idx = l.band_idx AND x.band_val = l.band_val),
       |scored$a AS (
       |  SELECT c.media_a, c.media_b,
       |         list_sum(list_transform(range(1, ${PhashChunks + 1}),
       |           k -> bit_count(xor(a.ch[k], b.ch[k]))))::INT AS hamming
       |  FROM cand$a c
       |  JOIN hv a ON c.media_a = a.media_id
       |  JOIN hv b ON c.media_b = b.media_id)""".stripMargin
  }

  val phashPairsSql: String = {
    val cells = PhashCells
    s"""WITH codes AS (
       |  SELECT doc_id AS media_id,
       |         list_transform(string_split(text, ''), c -> ord(c)) AS cs,
       |         length(text) AS n
       |  FROM documents),
       |tot AS (SELECT media_id, cs, n, coalesce(list_sum(cs), 0) AS ts FROM codes),
       |bits AS (
       |  SELECT media_id, r.i AS i,
       |         CASE WHEN coalesce(list_sum(list_slice(cs,
       |                     ((r.i * n) // $cells)::INT + 1,
       |                     (((r.i + 1) * n) // $cells)::INT)), 0) * n
       |                   > ts * ((((r.i + 1) * n) // $cells)
       |                           - ((r.i * n) // $cells))
       |              THEN 1 ELSE 0 END AS b
       |  FROM tot, range(0, $cells) r(i)),
       |chunks AS (
       |  SELECT media_id, (i // 8)::INT AS chunk_idx,
       |         sum(b << (i % 8))::INT AS chunk_val
       |  FROM bits GROUP BY 1, 2),
       |hv AS (SELECT media_id, list(chunk_val ORDER BY chunk_idx) AS ch
       |       FROM chunks GROUP BY 1),
       |smass AS (
       |  SELECT chunk_idx AS ci, sum(cnt * cnt)::HUGEINT AS s
       |  FROM (SELECT chunk_idx, chunk_val, count(*) AS cnt
       |        FROM chunks GROUP BY 1, 2) GROUP BY 1),
       |nn AS (SELECT count(*)::HUGEINT AS n FROM hv),
       |sel AS (
       |  SELECT CASE WHEN (SELECT n FROM nn) > 0
       |              AND (SELECT coalesce(sum(a.s * b.s * c.s), 0)
       |                   FROM smass a, smass b, smass c
       |                   WHERE a.ci < b.ci AND b.ci < c.ci)
       |                  >= (SELECT n*n*n*n*n FROM nn)
       |         THEN 4 ELSE $PhashDefaultArity END AS arity),
       |${phashBandCtes(3)},
       |${phashBandCtes(4)}
       |SELECT media_a, media_b, hamming FROM scored3
       |WHERE (SELECT arity FROM sel) = 3 AND hamming <= $PhashMaxHamming
       |UNION ALL
       |SELECT media_a, media_b, hamming FROM scored4
       |WHERE (SELECT arity FROM sel) = 4 AND hamming <= $PhashMaxHamming""".stripMargin
  }
}
