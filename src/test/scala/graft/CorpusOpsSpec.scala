package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{CorpusOps, Dedup, EventOps, ExtraOps, SamplingOps, Similarity, Portable}

class CorpusOpsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- q105

  test("adaptiveQuality: a 25th-percentile cutoff keeps >= ~75% per language") {
    val rows = CorpusOps.adaptiveQuality(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, cutoff, kept) = (r.getLong(1), r.getDouble(2), r.getLong(3))
      assert(cutoff >= 0.0 && cutoff <= 1.0, s"cutoff $cutoff out of range")
      assert(kept <= n)
      // >= with ties means at LEAST 75% survive (interpolation slack: 1 row)
      assert(kept >= (0.75 * n).floor.toLong - 1,
        s"lang ${r.getString(0)}: kept $kept of $n under a p25 cutoff")
    }
  }

  test("adaptiveQuality: per-language doc counts partition the corpus") {
    val total = graft.Tables.documents(spark, sf).count()
    val sum = CorpusOps.adaptiveQuality(spark, sf).agg(
      org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
    assert(sum == total, s"per-lang n_docs sum $sum != corpus $total")
  }

  // ---------------------------------------------------------------- q106

  test("chunkOverlap: contiguous indices, full non-final chunks, exact heads") {
    val toks = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), Portable.toks(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val chunks = CorpusOps.chunkOverlap(spark, sf).collect()
      .groupBy(_.getLong(0))
    assert(chunks.keySet == toks.keySet, "chunking must partition the corpus")
    chunks.foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == sorted.indices,
        s"doc $doc: chunk_idx not contiguous")
      val t = toks(doc)
      sorted.zipWithIndex.foreach { case (r, k) =>
        val start = k * CorpusOps.ChunkStride
        val expectLen = math.max(0, math.min(CorpusOps.ChunkLen, t.length - start))
        assert(r.getInt(2) == expectLen, s"doc $doc chunk $k: n_tok")
        if (k < sorted.length - 1)
          assert(r.getInt(2) == CorpusOps.ChunkLen,
            s"doc $doc: non-final chunk $k not full")
        val expectHead = if (start < t.length) t(start) else null
        assert(r.getString(3) == expectHead, s"doc $doc chunk $k: head_tok")
      }
    }
  }

  // ---------------------------------------------------------------- q107

  test("containmentPairs: bounds, threshold, and jaccard-subset relation") {
    val pairs = Dedup.containmentPairs(spark, sf).collect()
    pairs.foreach { r =>
      val (ca, cb) = (r.getDouble(2), r.getDouble(3))
      assert(ca > 0 && ca <= 1.0 + 1e-9 && cb > 0 && cb <= 1.0 + 1e-9)
      assert(math.max(ca, cb) >= Dedup.ContainmentThreshold)
    }
    // containment >= jaccard for the same pair, so every jaccard pair at or
    // above the containment threshold must re-appear here
    val strong = Dedup.ngramJaccard(spark, sf).collect()
      .filter(_.getDouble(2) >= Dedup.ContainmentThreshold)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.subsetOf(got),
      s"missing strong-jaccard pairs: ${strong -- got}")
  }

  // ---------------------------------------------------------------- q108

  test("debounce: kept + dropped = total, and totals match the raw stream") {
    val raw = graft.Tables.events(spark, sf)
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = EventOps.debounce(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == raw.keySet)
    rows.foreach { r =>
      val (t, n, kept, dropped) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n == raw(t), s"$t: total $n != raw ${raw(t)}")
      assert(kept + dropped == n)
      assert(kept >= 1 && kept <= n)
    }
  }

  // ---------------------------------------------------------------- q109

  test("charEntropy: bounded by ln(26), zero iff <=1 distinct letter") {
    val rows = CorpusOps.charEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    val lnA = math.log(26.0)
    rows.foreach { r =>
      val (n, h) = (r.getLong(1), r.getDouble(2))
      assert(h >= -1e-4 && h <= lnA + 1e-4,
        s"doc ${r.getLong(0)}: entropy $h out of [0, ln 26]")
      if (n == 0) assert(h == 0.0)
    }
  }

  test("charEntropy: native LetterStats ≡ the explode+groupBy formulation") {
    // the oracle SQL keeps the explode form; this pins the native kernel
    // to the same two moments on the real corpus
    val letters = lower(regexp_replace(col("text"), "[^A-Za-z]", ""))
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), letters.as("letters"))
    val expected = docs
      .select(col("doc_id"), explode(split(col("letters"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(org.apache.spark.sql.functions.sum(col("c")).as("t"),
        org.apache.spark.sql.functions.sum(col("c") *
          floor(log(col("c").cast("double"))
            * CorpusOps.EntropyScale + 0.5).cast("long")).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val native = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.chess.letterStats(col("text")).as("st"))
      .select(col("doc_id"), col("st.t"), col("st.s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    native.foreach { case (doc, (t, s)) =>
      val exp = expected.getOrElse(doc, (0L, 0L))
      assert((t, s) == exp, s"doc $doc: native ($t,$s) != explode $exp")
    }
  }

  test("charEntropy: exact on a hand-computed distribution") {
    // aabb -> p = (1/2, 1/2), H = ln 2; integer-scaled formula:
    // H = ln(4) - (2*ln2 + 2*ln2)/4 = ln 4 - ln 2 = ln 2
    val t = CorpusOps.EntropyScale
    val s = 4 * math.floor(math.log(2.0) * t + 0.5).toLong
    val expect = math.floor(
      (math.log(4.0) - s.toDouble / (4.0 * t)) * 10000.0 + 0.5) / 10000.0
    assert(math.abs(expect - math.floor(math.log(2.0) * 10000.0 + 0.5) / 10000.0)
      <= 1e-4)
  }

  // ---------------------------------------------------------------- q110

  test("weightedSample: exactly min(K, group) rows, contiguous ranks, length bias") {
    val perSource = graft.Tables.documents(spark, sf)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = SamplingOps.weightedSample(spark, sf).collect()
      .groupBy(_.getString(0))
    assert(rows.keySet == perSource.keySet)
    rows.foreach { case (src, rs) =>
      val expect = math.min(SamplingOps.WSampleK.toLong, perSource(src))
      assert(rs.length == expect, s"$src: ${rs.length} != $expect")
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length),
        s"$src: ranks not contiguous")
    }
    // the draw is ∝ token count: when it is selective, sampled docs must
    // average longer than the corpus (deterministic given the hash coin)
    val nTok = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), size(Portable.toks(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sampled = rows.values.flatten.map(r => r.getLong(1))
    if (sampled.size < nTok.size) {
      val avgSampled = sampled.map(nTok).sum.toDouble / sampled.size
      val avgAll = nTok.values.sum.toDouble / nTok.size
      assert(avgSampled > avgAll,
        f"weighted draw not length-biased: $avgSampled%.1f <= $avgAll%.1f")
    }
  }

  // ---------------------------------------------------------------- q112

  test("dupRateByForm: coarser normalization never finds fewer duplicates") {
    val rows = Dedup.dupRateByForm(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.keySet == Set("raw", "fold_ws", "aggressive"))
    val n = rows.values.head._1
    rows.values.foreach { case (nd, groups, dups) =>
      assert(nd == n); assert(dups == nd - groups)
    }
    // group counts can only shrink as the canonical form coarsens
    assert(rows("raw")._2 >= rows("fold_ws")._2)
    assert(rows("fold_ws")._2 >= rows("aggressive")._2)
  }

  // ---------------------------------------------------------------- q113

  test("incrementalDedup: covers exactly the delta, flags are consistent") {
    val delta = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % Dedup.DeltaModulus === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val rows = Dedup.incrementalDedup(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == delta)
    rows.foreach { r =>
      assert(r.getBoolean(3) == (!r.getBoolean(1) && !r.getBoolean(2)),
        s"doc ${r.getLong(0)}: is_new inconsistent")
    }
    // an exact duplicate is hamming-0 near — exact implies near unless the
    // base twin fell out of a capped bucket (cannot happen at this sf)
    rows.filter(_.getBoolean(1)).foreach { r =>
      assert(r.getBoolean(2), s"doc ${r.getLong(0)}: exact dup but not near")
    }
  }

  // ---------------------------------------------------------------- q114

  test("joinCardinality: estimate is exact when the parent key is unique") {
    val rows = ExtraOps.joinCardinality(spark, sf).collect()
    assert(rows.length == ExtraOps.FkEdges.length)
    rows.foreach { r =>
      val (nc, ndvC, np, ndvP, est, actual) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))
      assert(ndvC <= nc && ndvP <= np)
      // with a unique parent key (every FK edge here), every child row with
      // a live key matches exactly once: actual <= n_child, and when there
      // are no orphans the estimate n_c*n_p/max(ndv) with ndv_p = n_p
      // collapses to exactly n_child
      assert(actual <= nc)
      if (ndvP == np && ndvC <= ndvP) assert(est == nc,
        s"${r.getString(0)}: est $est != n_child $nc")
    }
  }

  // ---------------------------------------------------------------- q111

  test("embeddingCovariance: upper triangle, PSD diagonal, exact moment check") {
    val rows = Similarity.embeddingCovariance(spark, sf).collect()
    val d = Similarity.CovDim
    assert(rows.length == d * (d + 1) / 2)
    val cov = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    (0 until d).foreach(i => assert(cov((i, i)) >= -1e-9, s"var($i) < 0"))
    // recompute cov(0,0) from the same quantization, independently
    val q0 = graft.Tables.embeddings(spark, sf)
      .select(floor(col("embedding").getItem(0).cast("double")
        * Similarity.CovScale + 0.5).cast("long").as("q"))
      .collect().map(_.getLong(0))
    val n = q0.length.toDouble
    val mean = q0.sum / n
    val expect = (q0.map(v => v.toDouble * v).sum / n - mean * mean) /
      (Similarity.CovScale.toDouble * Similarity.CovScale.toDouble)
    assert(math.abs(cov((0, 0)) - expect) <= 2e-4,
      s"cov(0,0) ${cov((0, 0))} != recomputed $expect")
  }

  // ---------------------------------------------------------------- q118

  test("lengthBuckets: docs partitioned, exact mass identity, caps from the ladder") {
    val rows = CorpusOps.lengthBuckets(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "buckets must partition the corpus")
    val ladder = CorpusOps.LenBuckets.toSet
    rows.foreach { r =>
      val (cap, n, toks, pad, waste) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(pad >= 0 && waste >= 0.0 && waste <= 1.0)
      if (ladder.contains(cap)) {
        // padded batch identity: every doc pads exactly to its capacity
        assert(toks + pad == cap * n, s"cap $cap: mass identity broken")
      } else {
        // oversize bucket: cap = own length, so padding is zero by contract
        assert(cap > CorpusOps.LenBuckets.max && pad == 0L)
      }
    }
  }

  // ---------------------------------------------------------------- q123

  test("noveltyScore matches a brute-force document-frequency recount") {
    val rows = CorpusOps.noveltyScore(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val sh = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.chess.shingleHashes(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows.size == sh.size, "output must cover every document")
    val df = sh.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    sh.foreach { case (id, shingles) =>
      val (nSh, nNov, nov) = rows(id)
      assert(nSh == shingles.length, s"doc $id: shingle count")
      val novel = shingles.count(df(_) == 1).toLong
      assert(nNov == novel, s"doc $id: novel count")
      val expect =
        if (shingles.isEmpty) 0.0
        else math.floor(novel.toDouble / shingles.length * 10000 + 0.5) / 10000
      assert(math.abs(nov - expect) < 1e-9, s"doc $id: novelty")
    }
  }

  // ---------------------------------------------------------------- q134

  test("rankNormalize: exact within-source ECDF, top doc hits 1.0") {
    val rows = graft.ops.FunctionOps.rankNormalize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    val bySource = rows.groupBy(_._2)
    bySource.foreach { case (src, docs) =>
      val qs = docs.map(_._3)
      docs.foreach { case (id, _, q, cdf) =>
        val expect = qs.count(_ <= q).toDouble / qs.length
        assert(math.abs(cdf - math.floor(expect * 10000 + 0.5) / 10000) < 1e-9,
          s"$src/$id: cdf $cdf != $expect")
      }
      assert(docs.map(_._4).max == 1.0, s"$src: max cdf must be 1.0")
    }
  }

  // ---------------------------------------------------------------- q136

  test("sourceOverlap: full pair frame, exact set math vs collected shingles") {
    val p = graft.Tables.documents(spark, sf)
      .select(col("source"),
        explode(graft.functions.chess.shingleHashes(col("text"))).as("sh"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = p.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    val rows = Dedup.sourceOverlap(spark, sf).collect()
    val nSrc = bySrc.size
    assert(rows.length == nSrc * (nSrc - 1) / 2, "pair frame must be complete")
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b, s"pair ($a,$b) not canonically ordered")
      val (sa, sb) = (bySrc(a), bySrc(b))
      assert(r.getLong(2) == sa.size && r.getLong(3) == sb.size,
        s"($a,$b): set sizes diverge from collected shingle sets")
      val common = (sa intersect sb).size
      assert(r.getLong(4) == common, s"($a,$b): n_common $common")
      val expect =
        if (sa.size + sb.size == common) 0.0
        else math.floor(common.toDouble / (sa.size + sb.size - common) * 10000.0 + 0.5) / 10000.0
      assert(r.getDouble(5) == expect, s"($a,$b): jaccard")
    }
  }

  // ---------------------------------------------------------------- q137

  test("gopherRules: keep == conjunction of the published per-rule stats") {
    val rows = CorpusOps.gopherRules(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val pass =
        r.getInt(1) >= CorpusOps.GopherMinTokens &&
        r.getInt(1) <= CorpusOps.GopherMaxTokens &&
        r.getDouble(2) >= CorpusOps.GopherMinMeanTokLen &&
        r.getDouble(2) <= CorpusOps.GopherMaxMeanTokLen &&
        r.getDouble(3) <= CorpusOps.GopherMaxSymbolRatio &&
        r.getInt(4) >= CorpusOps.GopherMinStopHits &&
        r.getDouble(5) >= CorpusOps.GopherMinAlphaRatio
      assert(r.getInt(6) == (if (pass) 1 else 0), s"doc ${r.getLong(0)}: keep flag")
    }
    // the gate must discriminate on this corpus, not rubber-stamp it
    val kept = rows.count(_.getInt(6) == 1)
    assert(kept > 0 && kept < rows.length, s"kept $kept of ${rows.length}")
  }

  test("gopherRules: stats recompute from raw text for a sample") {
    val byId = CorpusOps.gopherRules(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().take(50).foreach { d =>
      val (id, text) = (d.getLong(0), d.getString(1))
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      val r = byId(id)
      assert(r.getInt(1) == toks.length, s"doc $id: n_tokens")
      def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
      val noWs = text.replaceAll("\\s+", "").length
      assert(r.getDouble(2) == (if (toks.nonEmpty) r4(noWs.toDouble / toks.length) else 0.0),
        s"doc $id: mean_tok_len")
      val stop = toks.count(graft.ops.TextOps.Stopwords.contains)
      assert(r.getInt(4) == stop, s"doc $id: stop_hits")
    }
  }

  // ---------------------------------------------------------------- q139

  test("paretoFrontier: equals brute-force strict-dominance skyline") {
    val pts = graft.Tables.part(spark, sf).collect()
      .map(r => (r.getLong(0),
        math.floor(r.getDouble(5) * 100.0 + 0.5).toLong, r.getInt(4)))
    val expect = pts.filter { case (_, p, s) =>
      !pts.exists { case (_, p2, s2) => p2 > p && s2 > s }
    }.map(_._1).toSet
    val got = ExtraOps.paretoFrontier(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got == expect,
      s"skyline diverges: extra=${got -- expect} missing=${expect -- got}")
    // dominance sanity: frontier is an anti-chain under strict dominance
    val fr = pts.filter(p => got(p._1))
    fr.foreach { case (_, p, s) =>
      assert(!fr.exists { case (_, p2, s2) => p2 > p && s2 > s })
    }
  }

  // ---------------------------------------------------------------- q143

  test("klDivergence: matches a reference smoothed-KL over the capped vocab") {
    val tok = graft.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
    val corpus = tok.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val vocab = corpus.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(CorpusOps.KlVocab)
    val nn = vocab.map(_._2).sum
    val v = vocab.size // actual cell count (≤ the cap on a small corpus)
    val expect = tok.map(_._1).distinct.map { src =>
      val sc = tok.filter(_._1 == src).groupBy(_._2).view
        .mapValues(_.length.toLong).toMap
      val n = vocab.map { case (w, _) => sc.getOrElse(w, 0L) }.sum
      val ti = vocab.map { case (w, cq) =>
        val p = (sc.getOrElse(w, 0L) + 1).toDouble / (n + v)
        val q = (cq + 1).toDouble / (nn + v)
        math.floor(p * math.log(p / q) * CorpusOps.KlScale + 0.5).toLong
      }.sum
      src -> ((n, math.floor(ti.toDouble / CorpusOps.KlScale * 10000.0 + 0.5) / 10000.0))
    }.toMap
    val got = CorpusOps.klDivergence(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet == expect.keySet)
    got.foreach { r =>
      val (n, kl) = expect(r.getString(0))
      assert(r.getLong(1) == n, s"${r.getString(0)}: vocab-token total")
      assert(r.getDouble(2) == kl, s"${r.getString(0)}: kl")
      assert(r.getDouble(2) >= 0.0, "KL must be non-negative")
    }
  }

  // ---------------------------------------------------------------- q144

  test("ttrHapax: matches reference per-source lexical stats") {
    val tok = graft.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
    val expect = tok.groupBy(_._1).map { case (src, xs) =>
      val counts = xs.groupBy(_._2).view.mapValues(_.length.toLong)
      val (tokens, types) = (xs.length.toLong, counts.size.toLong)
      val hapax = counts.count(_._2 == 1).toLong
      src -> ((tokens, types, hapax))
    }
    val got = CorpusOps.ttrHapax(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet == expect.keySet)
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    got.foreach { r =>
      val (tokens, types, hapax) = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((tokens, types, hapax)))
      assert(r.getDouble(4) == r4(types.toDouble / tokens))
      assert(r.getDouble(5) == r4(hapax.toDouble / types))
    }
  }

  // ---------------------------------------------------------------- q145

  test("prefixDedup: groups partition the corpus; keeper is min doc id") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
          .take(Dedup.PrefixTokens).mkString(" ")))
    val expect = docs.groupBy(_._2).map { case (_, xs) =>
      xs.map(_._1).min -> xs.length.toLong
    }
    val got = Dedup.prefixDedup(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == expect, "prefix groups diverge from reference grouping")
    assert(got.values.sum == docs.length.toLong, "groups must partition")
  }

  // ---------------------------------------------------------------- q149

  test("datasetCard: every card number recomputes from the raw corpus") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("lang"), col("text")).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    def toks(t: String) = t.trim.split("\\s+").filter(_.nonEmpty)
    val nDocs = docs.length.toLong
    val nTokens = docs.map(d => toks(d._3).length.toLong).sum
    val nSources = docs.map(_._1).distinct.length.toLong
    val nLangs = docs.map(_._2).distinct.length.toLong
    val nUnique = docs.map(d =>
      d._3.trim.replaceAll("\\s+", " ").toLowerCase).distinct.length.toLong
    val r = CorpusOps.datasetCard(spark, sf).collect()
    assert(r.length == 1, "the card is one row")
    val c = r.head
    assert(c.getLong(0) == nDocs && c.getLong(1) == nTokens)
    assert(c.getLong(2) == nSources && c.getLong(3) == nLangs)
    assert(c.getLong(4) == nUnique, "exact-dup fingerprint cardinality")
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    assert(c.getDouble(5) == r4(1.0 - nUnique.toDouble / nDocs))
    assert(c.getDouble(6) >= 0.0 && c.getDouble(6) <= 1.0, "mean quality in [0,1]")
    // median length: between min and max token counts, r4'd double
    val lens = docs.map(d => toks(d._3).length.toDouble)
    assert(c.getDouble(7) >= lens.min && c.getDouble(7) <= lens.max)
  }

  // ---------------------------------------------------------------- q150

  test("minhashErrorAudit: est/err recompute from collected signatures") {
    val sigs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.chess.minhashSigs(
          graft.functions.chess.shingleHashes(col("text"))).as("sigs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val pairs = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rows = Dedup.minhashErrorAudit(spark, sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == pairs.keySet,
      "audit must cover exactly the verified q22 pairs")
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(r.getDouble(2) == pairs((a, b)), s"($a,$b): exact jaccard")
      val m = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      assert(r.getDouble(3) == r4(m.toDouble / Dedup.MinhashK), s"($a,$b): estimate")
      assert(r.getDouble(4) ==
        r4(math.abs(m.toDouble / Dedup.MinhashK - pairs((a, b)))), s"($a,$b): error")
    }
  }

  // ---------------------------------------------------------------- q156

  test("kAnonymity: violating classes match brute force; no class >= k leaks") {
    val rows = graft.Tables.customer(spark, sf)
      .select(col("c_mktsegment"), col("c_nationkey"), col("c_acctbal")).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue(),
        math.floor(r.getDouble(2) / ExtraOps.KAnonBalBand).toLong))
    val classes = rows.groupBy(identity).view.mapValues(_.length.toLong)
    val expect = classes.filter(_._2 < ExtraOps.KAnonK).toMap
    val got = ExtraOps.kAnonymity(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue(), r.getLong(2))
        -> r.getLong(3)).toMap
    assert(got == expect, "violating equivalence classes diverge")
    // discrimination only has room above the quasi-id domain size (at
    // sf0.001 there are as many classes as rows; sf0.01's gate run shows
    // 10 of 901 classes passing)
    if (rows.length >= 1000)
      assert(classes.size > expect.size, "every class violates — banding too fine")
  }

  // ---------------------------------------------------------------- q157

  test("decileLift: deciles from the cell CDF; rates and lift recompute") {
    val keep = CorpusOps.gopherRules(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(6)).toMap
    // reference: collect (doc, score) from the engine's own audited kernel
    // (q17's published quality column)
    val base = graft.ops.TextOps.qualityScore(spark, sf)
      .select(col("doc_id"), col("quality"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val n = base.length
    val cells = base.map(_._2).groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
    var cum = 0L
    val cellCum = cells.map { case (s, c) => cum += c; s -> cum }.toMap
    def decile(s: Double) =
      math.min(CorpusOps.LiftDeciles - 1,
        math.floor(cellCum(s).toDouble / n * CorpusOps.LiftDeciles).toInt)
    val byDecile = base.groupBy { case (_, s) => decile(s) }
    val overall = base.map(d => keep(d._1).toLong).sum.toDouble / n
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val got = CorpusOps.decileLift(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == byDecile.keySet, "decile key sets diverge")
    byDecile.foreach { case (d, docs) =>
      val (gn, gpos, grate, glift) = got(d)
      val pos = docs.map(x => keep(x._1).toLong).sum
      assert(gn == docs.length.toLong && gpos == pos, s"decile $d counts")
      assert(grate == r4(pos.toDouble / docs.length), s"decile $d rate")
      assert(glift == r4(pos.toDouble / docs.length / overall), s"decile $d lift")
    }
  }

  // ---------------------------------------------------------------- q166

  test("giniTokens: rank-formula Gini recomputes; bounds hold") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).trim.split("\\s+").count(_.nonEmpty).toLong))
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val expect = docs.groupBy(_._1).map { case (src, xs) =>
      val sorted = xs.sortBy(d => (d._3, d._2)).map(_._3)
      val n = sorted.length.toLong
      val sumX = sorted.sum
      val sumIx = sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val g = if (sumX == 0) 0.0
        else r4(2.0 * sumIx / (n.toDouble * sumX) - (n + 1).toDouble / n)
      src -> ((n, sumX, g))
    }
    val rows = CorpusOps.giniTokens(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == expect.keySet)
    rows.foreach { r =>
      val (n, sumX, g) = expect(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == sumX, s"${r.getString(0)}: sums")
      assert(r.getDouble(3) == g, s"${r.getString(0)}: gini")
      assert(r.getDouble(3) >= -0.0001 && r.getDouble(3) < 1.0,
        s"${r.getString(0)}: gini out of range")
    }
  }

  test("zipfFit: head bounded, mass conserved, natural text fits a negative slope") {
    val row = CorpusOps.zipfFit(spark, sf).collect() match {
      case Array(r) => r
      case other => fail(s"expected one row, got ${other.length}")
    }
    val (nRanks, vocab, total) = (row.getLong(0), row.getLong(1), row.getLong(2))
    // the head is the min of the cap and the actual vocabulary
    assert(nRanks == math.min(CorpusOps.ZipfTopN.toLong, vocab))
    // totals agree with an independent token count
    val expectTotal = Tables.documents(spark, sf)
      .select(explode(Portable.toks(col("text"))).as("t")).count()
    val expectVocab = Tables.documents(spark, sf)
      .select(explode(Portable.toks(col("text"))).as("t")).distinct().count()
    assert(total == expectTotal && vocab == expectVocab)
    val headShare = row.getDouble(3)
    assert(headShare > 0.0 && headShare <= 1.0)
    if (nRanks == vocab) assert(headShare > 0.999, "full-vocab head holds all mass")
    // rank-frequency of natural-ish text: strictly decreasing fit
    assert(row.getDouble(4) < 0.0, s"slope must be negative: ${row.getDouble(4)}")
    assert(row.getDouble(4) > -4.0, "slope implausibly steep")
  }

  test("qualityAuc: matches a driver-side midrank Mann-Whitney exactly") {
    val row = CorpusOps.qualityAuc(spark, sf).collect() match {
      case Array(r) => r
      case other => fail(s"expected one row, got ${other.length}")
    }
    // brute-force reference: midrank AUC over the same score/label frame
    val pairs = Dedup.minhashLsh(spark, sf).collect()
    val members = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(members.nonEmpty, "fixture must contain near-dup pairs")
    val scored = graft.ops.TextOps.qualityScore(spark, sf)
      .select(col("doc_id"), col("quality"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val sorted = scored.sortBy(_._2)
    // midranks over ties
    val rank = scala.collection.mutable.Map[Long, Double]()
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._2 == sorted(i)._2) j += 1
      val mid = (i + 1 + j).toDouble / 2.0 // avg of ranks i+1..j
      (i until j).foreach(k => rank(sorted(k)._1) = mid)
      i = j
    }
    val nPos = members.size.toLong
    val nNeg = scored.length - nPos
    val rPlus = members.toSeq.map(rank).sum
    val expect = (rPlus - nPos * (nPos + 1) / 2.0) / (nPos.toDouble * nNeg)
    assert(row.getLong(0) == nPos && row.getLong(1) == nNeg)
    assert(row.getDouble(2) == math.floor(expect * 10000.0 + 0.5) / 10000.0,
      s"auc ${row.getDouble(2)} != reference $expect")
  }

  test("logregQuality: round-1 accuracy = positive count, weights move every round") {
    import graft.ops.CorpusOps
    val rows = CorpusOps.logregQuality(spark, sf)
      .orderBy("step").collect()
    assert(rows.length == CorpusOps.LogregRounds)
    // zero initial weights → margin 0 → p = 0.5 → every doc predicted keep,
    // so round 1's entering-weights accuracy is exactly the positive count
    val nPos = CorpusOps.gopherRules(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("keep")).collect()(0).getLong(0)
    assert(rows(0).getLong(1) == nPos,
      s"round-1 n_correct ${rows(0).getLong(1)} != n_pos $nPos")
    // gradient descent actually moves: each round's weight vector differs
    // from the previous round's
    val ws = rows.map(r => (2 to 5).map(r.getDouble))
    ws.sliding(2).foreach { case Array(a, b) =>
      assert(a != b, s"weights stalled: $a")
    }
    // determinism: a re-run reproduces the trajectory exactly
    val again = CorpusOps.logregQuality(spark, sf).orderBy("step").collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("logregApply: confusion partitions the corpus, marginals match the label") {
    import graft.ops.CorpusOps
    val r = CorpusOps.logregApply(spark, sf).collect()(0)
    val (tp, fp, fn, tn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val n = graft.Tables.documents(spark, sf).count()
    assert(tp + fp + fn + tn == n, "confusion must partition the corpus")
    val nPos = CorpusOps.gopherRules(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("keep")).collect()(0).getLong(0)
    assert(tp + fn == nPos, "positive marginal must equal the label count")
    // metrics recompute exactly from the counts
    def r4d(a: Long, b: Long) =
      if (b == 0L) 0.0 else math.floor(a.toDouble / b.toDouble * 1e4 + 0.5) / 1e4
    assert(r.getDouble(4) == r4d(tp, tp + fp))
    assert(r.getDouble(5) == r4d(tp, tp + fn))
    assert(r.getDouble(6) == r4d(2 * tp, 2 * tp + fp + fn))
    assert(r.getDouble(7) == r4d(tp + tn, n))
  }

  test("perplexityBuckets: partition of the scored corpus, ordered by NLL") {
    import graft.ops.CorpusOps
    val buckets = CorpusOps.perplexityBuckets(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // every (lang, bucket) valid; doc mass equals the q103-scored count
    assert(buckets.forall(b => Set("head", "middle", "tail")(b._2)))
    val scoredDocs = graft.ops.TextOps.perplexity(spark, sf).count()
    assert(buckets.map(_._3).sum == scoredDocs,
      "buckets must partition the LM-scored documents")
    // semantic order: within each language, every head doc scores <= every
    // tail doc (recomputed from the raw NLL frame)
    val nll = graft.ops.TextOps.perplexity(spark, sf)
      .join(graft.Tables.documents(spark, sf).select("doc_id", "lang"),
        "doc_id")
      .select("lang", "nll").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (l, v) => l -> v.map(_._2).sorted }
    buckets.groupBy(_._1).foreach { case (lang, bs) =>
      val byB = bs.map(b => b._2 -> b._3).toMap
      val n = nll(lang).length
      // the head tercile holds at least its interpolated share
      assert(byB.getOrElse("head", 0L) >= n / 3 - 1,
        s"$lang head ${byB.get("head")} of $n")
      assert(byB.values.sum == n)
    }
  }

  test("logregCalibration: buckets partition the corpus, rates recompute from labels") {
    import graft.ops.CorpusOps
    val rows = CorpusOps.logregCalibration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    val n = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum == n, "buckets must partition the corpus")
    rows.foreach { case (b, nd, mp, kr, gap) =>
      assert(b >= 0 && b < CorpusOps.CalibBuckets, s"bucket $b out of range")
      assert(nd > 0, "empty buckets must not be emitted")
      assert(mp >= 0.0 && mp <= 1.0 && kr >= 0.0 && kr <= 1.0)
      assert(math.abs(gap - (mp - kr)) < 1e-12, s"gap must be mp - kr at $b")
    }
    // kept mass across buckets equals the rule-bank positives
    val nPos = CorpusOps.gopherRules(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("keep")).collect()(0).getLong(0)
    val keptMass = rows.map(r => math.round(r._4 * r._2)).sum
    assert(math.abs(keptMass - nPos) <= rows.length,
      s"per-bucket keep rates inconsistent with $nPos positives")
    // adaptive binning does its job: the observed range spans >1 bucket
    assert(rows.length > 1, "all mass in one bucket defeats the diagram")
    // mean predicted probability is non-decreasing in bucket order (bin
    // edges are ordered in pq by construction)
    val byBucket = rows.sortBy(_._1)
    byBucket.zip(byBucket.tail).foreach { case (a, c) =>
      assert(a._3 <= c._3 + 1e-12, s"mean_pred must rise: $a -> $c")
    }
  }

  test("curationShift: movers recompute from raw counts and survivor flags") {
    import graft.ops.{CorpusOps, CurationPipeline, Portable}
    import org.apache.spark.sql.functions._
    val rows = CorpusOps.curationShift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.length == CorpusOps.ShiftTopN)
    rows.foreach { case (_, nr, nc, pr, pc, sh) =>
      assert(nc <= nr, "curated count cannot exceed raw count")
      assert(math.abs(sh - (pc - pr)) < 1e-12, "shift must be p_cur - p_raw")
    }
    // independent recompute: token counts over raw corpus and s4 survivors
    val s4 = CurationPipeline.survivorFlags(spark, sf)
      .filter(col("s4")).select("doc_id").collect().map(_.getLong(0)).toSet
    val toks = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(Portable.toks(col("text"))).as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val raw = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val cur = toks.filter(t => s4(t._1)).groupBy(_._2)
      .view.mapValues(_.length.toLong).toMap
    val (traw, tcur) = (toks.length.toLong, toks.count(t => s4(t._1)).toLong)
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    rows.foreach { case (w, nr, nc, pr, pc, _) =>
      assert(nr == raw(w) && nc == cur.getOrElse(w, 0L), s"$w counts")
      assert(pr == r4(nr.toDouble / traw) &&
        pc == (if (tcur > 0) r4(nc.toDouble / tcur) else 0.0), s"$w probs")
    }
    // the emitted movers are the true top-N among the top-KlVocab vocab
    val vocab = raw.toSeq.sortBy { case (w, n) => (-n, w) }
      .take(CorpusOps.KlVocab)
    val worstEmitted = rows.map(r => math.abs(r._6)).min
    val omittedMax = vocab.filterNot(v => rows.exists(_._1 == v._1))
      .map { case (w, n) =>
        val pv = r4(n.toDouble / traw)
        val cv = if (tcur > 0) r4(cur.getOrElse(w, 0L).toDouble / tcur) else 0.0
        math.abs(cv - pv) }.max
    assert(omittedMax <= worstEmitted + 1e-12,
      "an omitted vocab token out-shifts an emitted mover")
  }

  // ---------------------------------------------------------------- q224

  test("crossdomainPpl: reference sources score themselves with zero OOV") {
    val rows = CorpusOps.crossdomainPpl(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    // the hash split must produce both domains
    assert(rows.exists(_._2 == 1) && rows.exists(_._2 == 0))
    rows.filter(_._2 == 1).foreach { case (s, _, _, oov, _) =>
      assert(oov == 0.0, s"reference source $s has OOV bigrams: $oov")
    }
    // NLL is a positive mean of -ln(p), p < 1 under add-one smoothing
    rows.foreach { case (s, _, n, oov, nll) =>
      assert(n > 0 && nll > 0.0, s"$s: n=$n nll=$nll")
      assert(oov >= 0.0 && oov <= 1.0, s"$s: oov_rate $oov out of range")
    }
    // per-source doc counts partition the scored corpus (>= 2 tokens)
    val scored = graft.Tables.documents(spark, sf)
      .filter(size(Portable.toks(col("text"))) >= 2).count()
    assert(rows.map(_._3).sum == scored)
  }

  test("crossdomainPpl: non-reference domains carry the OOV signal") {
    val rows = CorpusOps.crossdomainPpl(spark, sf).collect()
      .map(r => (r.getInt(1), r.getDouble(3)))
    // at least one non-reference source contains a bigram the reference
    // LM never saw (the whole point of cross-domain scoring)
    assert(rows.filter(_._1 == 0).exists(_._2 > 0.0),
      "no non-reference source has any OOV bigram — split degenerate")
  }
  // ---------------------------------------------------------------- q230

  test("dpHistogram: calibration matches the Laplace closed form; cells partition the corpus") {
    val b = ExtraOps.DpReleases / ExtraOps.DpEpsilon
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val rows = ExtraOps.dpHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getInt(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, band, n, eps, scale, relErr, pub) =>
      assert(band >= 0 && band % ExtraOps.DpLenBand == 0, s"band $band")
      assert(eps == r4(ExtraOps.DpEpsilon / ExtraOps.DpReleases))
      assert(scale == r4(b))
      assert(relErr == r4(b / n), s"$lang/$band rel err")
      assert(pub == (if (n >= ExtraOps.DpSnrMin * b) 1 else 0),
        s"$lang/$band publishable flag")
    }
    assert(rows.map(_._3).sum == graft.Tables.documents(spark, sf).count(),
      "cells do not partition the corpus")
    // small cells must exist at this sf and be flagged unpublishable
    assert(rows.filter(_._3 < ExtraOps.DpSnrMin * b).forall(_._7 == 0))
  }
  // ---------------------------------------------------------------- q235

  test("curriculumSchedule: monotone widening epochs; final epoch admits the corpus") {
    val rows = CorpusOps.curriculumSchedule(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to CorpusOps.CurriculumFracs.size))
    // widening: later epochs have lower cutoffs, admit supersets
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(b._3 <= a._3 + 1e-9, s"epoch ${b._1} cutoff rose")
      assert(b._4 >= a._4 && b._5 >= a._5, s"epoch ${b._1} shrank")
    }
    // epoch at frac 1.0 admits every document and all tokens
    val total = graft.Tables.documents(spark, sf).count()
    assert(rows.last._4 == total, s"final epoch ${rows.last._4} != $total")
    assert(math.abs(rows.last._6 - 1.0) < 1e-9, "final token share != 1")
    // each epoch admits at least its nominal fraction (ties can only add)
    rows.foreach { case (e, f, _, n, _, _) =>
      assert(n >= (f * total).floor.toLong - 1, s"epoch $e under-admits")
    }
  }

  // ---------------------------------------------------------------- q241

  test("uncertaintySample: K rows, minimal margins, algebra holds") {
    val rows = CorpusOps.uncertaintySample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == math.min(CorpusOps.UncertainK,
      graft.Tables.documents(spark, sf).count()).toInt)
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate doc")
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    rows.foreach { case (id, y, p, m) =>
      assert(y == 0L || y == 1L)
      assert(p >= 0.0 && p <= 1.0)
      assert(m == r4(math.abs(p - 0.5)) || math.abs(m - math.abs(p - 0.5)) < 2e-4,
        s"doc $id margin $m vs p $p")
    }
    // no unselected document is strictly more uncertain than the worst
    // selected one: the selected max margin is the global K-th smallest
    val maxSel = rows.map(_._4).max
    assert(maxSel <= 0.5 + 1e-9)
  }

  // ---------------------------------------------------------------- q245

  test("gradientSelect: exact driver-side replay of the TracIn-style selection") {
    val rows = CorpusOps.gradientSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == CorpusOps.GradSelectK)
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (id, y, _) =>
      assert(id % CorpusOps.GradTargetMod != 0, s"target doc $id selected")
      assert(y == 0L || y == 1L)
    }
    // full replay: features -> quantized sigmoid -> target gradient ->
    // alignment -> top-K, identical ordering contract
    val (_, traj) = CorpusOps.trainLogreg(spark, sf)
    val w = traj.last._3
    val xs = CorpusOps.LogregXScale.toDouble
    val ps = CorpusOps.LogregPScale.toDouble
    val feats = CorpusOps.docFeats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    def pq(x1: Long, x2: Long, x3: Long): Double = {
      val m = w(0) + w(1) * (x1 / xs) + w(2) * (x2 / xs) + w(3) * (x3 / xs)
      math.floor((1.0 / (1.0 + math.exp(-m))) * ps + 0.5)
    }
    val withErr = feats.map { case (id, x1, x2, x3, y) =>
      (id, x1, x2, x3, y, pq(x1, x2, x3) - y * ps) }
    val target = withErr.filter(_._1 % CorpusOps.GradTargetMod == 0)
    val n = target.length.toDouble
    val denom = ps * xs * n
    // exact integer sums like the decimal accumulation
    def gsum(f: ((Long, Long, Long, Long, Long, Double)) => Double) =
      target.map(t => BigDecimal(f(t)) * BigDecimal(t._6)).sum.toDouble / denom
    val g0 = gsum(_ => xs)
    val g1 = gsum(_._2.toDouble); val g2 = gsum(_._3.toDouble)
    val g3 = gsum(_._4.toDouble)
    val scored = withErr.filter(_._1 % CorpusOps.GradTargetMod != 0)
      .map { case (id, x1, x2, x3, _, err) =>
        val dot = g0 + g1 * (x1 / xs) + g2 * (x2 / xs) + g3 * (x3 / xs)
        (id, (err / ps) * dot * 1000.0)
      }
    val expect = scored.sortBy { case (id, r) => (-r, id) }
      .take(CorpusOps.GradSelectK).map(_._1).toSeq
    assert(rows.map(_._1).toSeq == expect,
      s"selection ${rows.map(_._1).toSeq} != replay $expect")
  }

  test("trainLogregMulti: a chain whose subset is empty fails fast, naming the chain") {
    val s = spark
    import s.implicits._
    val feats = Seq((100L, 200L, 300L, 1L), (50L, 20L, 10L, 0L))
      .toDF("x1s", "x2s", "x3s", "y")
    val e = intercept[IllegalArgumentException] {
      CorpusOps.trainLogregMulti(feats, Seq(lit(true), lit(false)))
    }
    assert(e.getMessage.contains("chain 1"), e.getMessage)
  }

  // ---------------------------------------------------------------- q246

  test("signalCorrelation: bounded, and matches a driver-side Pearson") {
    val rows = CorpusOps.signalCorrelation(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, n, r) =>
      assert(n > 0)
      assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9, s"$lang r=$r")
    }
    import org.apache.spark.sql.functions.col
    val scored = graft.ops.TextOps.perplexity(spark, sf)
      .join(graft.Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang")), "doc_id")
      .join(graft.ops.TextOps.qualityScore(spark, sf)
        .select(col("doc_id"), col("quality").as("q")), "doc_id")
      .select(col("lang"), col("nll"), col("q")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    rows.foreach { case (lang, n, r) =>
      val xs = scored.filter(_._1 == lang)
      assert(xs.length.toLong == n, s"$lang n")
      val nn = xs.length.toDouble
      val sx = xs.map(_._2).sum; val sy = xs.map(_._3).sum
      val sxx = xs.map(t => t._2 * t._2).sum
      val syy = xs.map(t => t._3 * t._3).sum
      val sxy = xs.map(t => t._2 * t._3).sum
      val num = nn * sxy - sx * sy
      val den = (nn * sxx - sx * sx) * (nn * syy - sy * sy)
      val expect = if (den > 0) num / math.sqrt(den) else 0.0
      assert(math.abs(r - expect) < 1e-3, s"$lang: $r vs $expect")
    }
  }

  // -------------------------------------------------------- q249 / q250

  /** Driver-side GD replay with the exact trainLogregOn arithmetic:
    * BigDecimal integer gradient sums → double division → identical
    * update-op order.
    */
  private def replayTrain(
      feats: Array[(Long, Long, Long, Long, Long)]): Array[Double] = {
    val xs = CorpusOps.LogregXScale.toDouble
    val ps = CorpusOps.LogregPScale.toDouble
    val w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to CorpusOps.LogregRounds) {
      def pq(x1: Long, x2: Long, x3: Long): Double = {
        val m = w(0) + w(1) * (x1 / xs) + w(2) * (x2 / xs) + w(3) * (x3 / xs)
        math.floor((1.0 / (1.0 + math.exp(-m))) * ps + 0.5)
      }
      val errs = feats.map { case (_, x1, x2, x3, y) =>
        (x1, x2, x3, pq(x1, x2, x3) - y * ps) }
      val denom = ps * xs * feats.length.toDouble
      def g(f: ((Long, Long, Long, Double)) => Double) =
        errs.map(t => BigDecimal(f(t)) * BigDecimal(t._4)).sum.toDouble / denom
      val gs = Array(g(_ => xs), g(_._1.toDouble), g(_._2.toDouble),
        g(_._3.toDouble))
      for (j <- 0 to 3) w(j) = w(j) - CorpusOps.LogregLr * gs(j)
    }
    w
  }

  test("rholossSelect: exact driver-side replay of the excess-loss selection") {
    val rows = CorpusOps.rholossSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.length == CorpusOps.RholossK)
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (id, y, nm, nr, ex) =>
      assert(id % CorpusOps.RholossHoldoutMod != 0, s"holdout doc $id selected")
      assert(y == 0L || y == 1L)
      assert(nm >= 0.0 && nr >= 0.0, s"doc $id: negative NLL")
      assert(math.abs(ex - (nm - nr)) < 2e-4, s"doc $id: excess != nm - nr")
    }
    val feats = CorpusOps.docFeats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val wM = replayTrain(feats)
    val wR = replayTrain(feats.filter(_._1 % CorpusOps.RholossHoldoutMod == 0))
    val xs = CorpusOps.LogregXScale.toDouble
    val ps = CorpusOps.LogregPScale
    val sc = CorpusOps.RholossLnScale
    val lnPs = math.floor(math.log(ps.toDouble) * sc + 0.5).toLong
    def pqAt(w: Array[Double], x1: Long, x2: Long, x3: Long): Long = {
      val m = w(0) + w(1) * (x1 / xs) + w(2) * (x2 / xs) + w(3) * (x3 / xs)
      val p = math.floor((1.0 / (1.0 + math.exp(-m))) * ps.toDouble + 0.5).toLong
      math.max(math.min(p, ps - 1L), 1L)
    }
    def nll(cpq: Long, y: Long): Long =
      if (y == 1L) lnPs - math.floor(math.log(cpq.toDouble) * sc + 0.5).toLong
      else lnPs - math.floor(math.log((ps - cpq).toDouble) * sc + 0.5).toLong
    val expect = feats.filter(_._1 % CorpusOps.RholossHoldoutMod != 0)
      .map { case (id, x1, x2, x3, y) =>
        (id, nll(pqAt(wM, x1, x2, x3), y) - nll(pqAt(wR, x1, x2, x3), y)) }
      .sortBy { case (id, e) => (-e, id) }
      .take(CorpusOps.RholossK).map(_._1).toSeq
    assert(rows.map(_._1).toSeq == expect,
      s"selection ${rows.map(_._1).toSeq} != replay $expect")
  }

  test("kappaGates: exact-integer kappa replay per language, bounded") {
    val rows = CorpusOps.kappaGates(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    val feats = CorpusOps.docFeats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val wM = replayTrain(feats)
    val langOf = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val xs = CorpusOps.LogregXScale.toDouble
    val ps = CorpusOps.LogregPScale
    def pred(x1: Long, x2: Long, x3: Long): Boolean = {
      val m = wM(0) + wM(1) * (x1 / xs) + wM(2) * (x2 / xs) + wM(3) * (x3 / xs)
      math.floor((1.0 / (1.0 + math.exp(-m))) * ps.toDouble + 0.5).toLong >= ps / 2
    }
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val byLang = feats.groupBy(f => langOf(f._1))
    assert(rows.length == byLang.size, "one row per language")
    rows.foreach { case (lang, n, po, pe, kappa) =>
      val g = byLang(lang)
      assert(n == g.length, s"$lang n")
      val a1 = g.count(f => pred(f._2, f._3, f._4)).toLong
      val b1 = g.count(_._5 == 1L).toLong
      val agree = g.count(f => pred(f._2, f._3, f._4) == (f._5 == 1L)).toLong
      val peNum = BigInt(a1) * b1 + BigInt(n - a1) * (n - b1)
      val den = BigInt(n) * n - peNum
      assert(po == r4(agree.toDouble / n), s"$lang po")
      assert(pe == r4(peNum.toDouble / (BigInt(n) * n).toDouble), s"$lang pe")
      val ek = if (den == 0) 0.0
        else r4((BigInt(agree) * n - peNum).toDouble / den.toDouble)
      assert(kappa == ek, s"$lang kappa $kappa != $ek")
      assert(kappa >= -1.0 - 1e-9 && kappa <= 1.0 + 1e-9)
    }
  }

  test("thresholdSweep: exact confusion replay at every decile, F1-argmax flagged") {
    val rows = CorpusOps.thresholdSweep(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getInt(7)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == CorpusOps.SweepThresholds)
    val feats = CorpusOps.docFeats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val w = replayTrain(feats)
    val xs = CorpusOps.LogregXScale.toDouble
    val ps = CorpusOps.LogregPScale
    def pq(x1: Long, x2: Long, x3: Long): Long = {
      val m = w(0) + w(1) * (x1 / xs) + w(2) * (x2 / xs) + w(3) * (x3 / xs)
      math.floor((1.0 / (1.0 + math.exp(-m))) * ps.toDouble + 0.5).toLong
    }
    val scored = feats.map(f => (pq(f._2, f._3, f._4), f._5))
    def o4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val f1s = rows.map { case (t, tp, fp, fn, tn, f1, j, _) =>
      val cut = t.toLong * ps / 10
      val etp = scored.count(s => s._1 >= cut && s._2 == 1L).toLong
      val efp = scored.count(s => s._1 >= cut && s._2 != 1L).toLong
      val np = scored.count(_._2 == 1L).toLong
      assert(tp == etp && fp == efp, s"t=$t confusion")
      assert(fn == np - etp && tn == scored.length - np - efp, s"t=$t fn/tn")
      val ef1 = if (2 * etp + efp + (np - etp) == 0) 0.0
        else 2.0 * etp / (2 * etp + efp + (np - etp))
      assert(f1 == o4(ef1), s"t=$t f1")
      // confusion monotonicity: raising the cut can only shrink predictions
      (t, ef1)
    }
    val bestT = f1s.maxBy { case (t, f) => (f, -t) }._1
    assert(rows.count(_._8 == 1) == 1, "exactly one best row")
    assert(rows.find(_._8 == 1).get._1 == bestT, "F1-argmax row")
  }

  test("crossVal: per-fold held-out confusion replay, folds partition the corpus") {
    val rows = CorpusOps.crossVal(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    val k = CorpusOps.CvFolds
    assert(rows.map(_._1).toSeq == (0 until k))
    val feats = CorpusOps.docFeats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val n = feats.length.toLong
    assert(rows.map(_._3).sum == n, "test folds partition the corpus")
    val xs = CorpusOps.LogregXScale.toDouble
    val ps = CorpusOps.LogregPScale
    def o4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    rows.foreach { case (f, nTrain, nTest, correct, acc) =>
      val test = feats.filter(_._1 % k == f)
      val train = feats.filter(_._1 % k != f)
      assert(nTest == test.length && nTrain == train.length, s"fold $f sizes")
      val w = replayTrain(train)
      val ec = test.count { case (_, x1, x2, x3, y) =>
        val m = w(0) + w(1) * (x1 / xs) + w(2) * (x2 / xs) + w(3) * (x3 / xs)
        val pq = math.floor((1.0 / (1.0 + math.exp(-m))) * ps + 0.5).toLong
        (pq >= ps / 2) == (y == 1L)
      }.toLong
      assert(correct == ec, s"fold $f correct")
      assert(acc == o4(if (nTest == 0) 0.0 else ec.toDouble / nTest), s"fold $f acc")
    }
  }

  test("fleissGates: exact multi-rater replay, kappa in [-1, 1]") {
    val r = CorpusOps.fleissGates(spark, sf).collect()(0)
    val feats = CorpusOps.docFeats(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    val w = replayTrain(feats)
    val qOf = graft.ops.TextOps.qualityScore(spark, sf)
      .selectExpr("doc_id", "cast(floor(quality * 10000.0 + 0.5) as long) qi")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val xs = CorpusOps.LogregXScale.toDouble
    val ps = CorpusOps.LogregPScale
    val tauI = math.floor(CorpusOps.FleissQualityTau * 10000.0 + 0.5).toLong
    def o4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val ks = feats.map { case (id, x1, x2, x3, y) =>
      val m = w(0) + w(1) * (x1 / xs) + w(2) * (x2 / xs) + w(3) * (x3 / xs)
      val lr = if (math.floor((1.0 / (1.0 + math.exp(-m))) * ps + 0.5).toLong
        >= ps / 2) 1L else 0L
      val qg = if (qOf(id) >= tauI) 1L else 0L
      (y, lr, qg)
    }
    val n = ks.length
    assert(r.getLong(0) == n)
    assert(r.getDouble(1) == o4(ks.map(_._1).sum.toDouble / n), "rate_rules")
    assert(r.getDouble(2) == o4(ks.map(_._2).sum.toDouble / n), "rate_lr")
    assert(r.getDouble(3) == o4(ks.map(_._3).sum.toDouble / n), "rate_quality")
    val sk = ks.map(t => t._1 + t._2 + t._3).sum
    val sp = ks.map { t =>
      val k = t._1 + t._2 + t._3; k * k + (3 - k) * (3 - k) - 3 }.sum
    val pBar = sp.toDouble / (n * 6.0)
    val pk = sk.toDouble / (n * 3.0)
    val pe = pk * pk + (1.0 - pk) * (1.0 - pk)
    assert(r.getDouble(4) == o4(pBar), "p_bar")
    assert(r.getDouble(5) == o4(pe), "p_e")
    val ek = if (1.0 - pe == 0.0) 0.0 else (pBar - pe) / (1.0 - pe)
    assert(math.abs(r.getDouble(6) - o4(ek)) <= 1e-4, "kappa")
    assert(r.getDouble(6) >= -1.0 - 1e-9 && r.getDouble(6) <= 1.0 + 1e-9)
  }

  test("conformal: order-statistic replay, finite-sample coverage behavior") {
    val rows = CorpusOps.conformal(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    assert(rows.map(_._1).toSeq ==
      CorpusOps.ConformalAlphas.map(a => math.floor(a * 1e4 + 0.5) / 1e4))
    val m = CorpusOps.ConformalSplitMod
    val feats = CorpusOps.docFeats(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    val w = replayTrain(feats.filter(_._1 % m == 0))
    val xs = CorpusOps.LogregXScale.toDouble
    val ps = CorpusOps.LogregPScale
    def nc(x1: Long, x2: Long, x3: Long, y: Long): Long = {
      val mm = w(0) + w(1) * (x1 / xs) + w(2) * (x2 / xs) + w(3) * (x3 / xs)
      val pq = math.floor((1.0 / (1.0 + math.exp(-mm))) * ps + 0.5).toLong
      if (y == 1L) ps - pq else pq
    }
    val cal = feats.filter(_._1 % m == 1)
      .map(f => nc(f._2, f._3, f._4, f._5)).sorted
    val ev = feats.filter(_._1 % m == 2).map(f => nc(f._2, f._3, f._4, f._5))
    def o4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    rows.foreach { case (alpha, nCal, nEval, qhatP, cov, target) =>
      assert(nCal == cal.length && nEval == ev.length, "split sizes")
      val k = math.min(
        math.ceil((nCal + 1).toDouble * (1.0 - alpha)).toLong, nCal)
      val qhat = cal(k.toInt - 1)
      assert(qhatP == o4(qhat.toDouble / ps), s"alpha=$alpha qhat")
      assert(cov == o4(ev.count(_ <= qhat).toDouble / ev.length),
        s"alpha=$alpha coverage")
      assert(target == o4(1.0 - alpha))
      // the conformal guarantee is in expectation over splits; at this
      // fixed split just require the achieved coverage to sit in a sane
      // band around the target (the replay above is the exact check)
      assert(cov >= target - 0.15 && cov <= 1.0 + 1e-9,
        s"alpha=$alpha coverage $cov far from target $target")
    }
  }

  test("lengthBias: per-bucket confusion replay, buckets partition the corpus") {
    val rows = CorpusOps.lengthBias(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    val feats = CorpusOps.docFeats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val w = replayTrain(feats)
    val lenOf = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id",
        "size(filter(split(trim(text), '\\\\s+'), t -> length(t) > 0)) n")
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val xs = CorpusOps.LogregXScale.toDouble
    val ps = CorpusOps.LogregPScale
    def o4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def cap(n: Long): Long =
      CorpusOps.LenBuckets.find(n <= _).map(_.toLong).getOrElse(n)
    val scored = feats.map { case (id, x1, x2, x3, y) =>
      val m = w(0) + w(1) * (x1 / xs) + w(2) * (x2 / xs) + w(3) * (x3 / xs)
      val pred = if (math.floor((1.0 / (1.0 + math.exp(-m))) * ps + 0.5).toLong
        >= ps / 2) 1L else 0L
      (cap(lenOf(id)), y, pred)
    }
    assert(rows.map(_._2).sum == feats.length.toLong, "buckets partition")
    rows.foreach { case (b, n, rr, lr, acc) =>
      val g = scored.filter(_._1 == b.toLong)
      assert(n == g.length, s"bucket $b n")
      assert(rr == o4(g.count(_._2 == 1L).toDouble / n), s"bucket $b rule_rate")
      assert(lr == o4(g.count(_._3 == 1L).toDouble / n), s"bucket $b lr_rate")
      assert(acc == o4(g.count(t => t._2 == t._3).toDouble / n), s"bucket $b acc")
    }
  }

  test("learningCurve: nested subsets, per-point held-out confusion replay") {
    val rows = CorpusOps.learningCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == CorpusOps.LearnCurveKs)
    val feats = CorpusOps.docFeats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val den = CorpusOps.LearnCurveDen
    val ho = feats.filter(_._1 % 3 == 2)
    val xs = CorpusOps.LogregXScale.toDouble
    val ps = CorpusOps.LogregPScale
    def o4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    var prevTrain = -1L
    rows.foreach { case (k, frac, nTrain, nTest, correct, acc) =>
      val pool = feats.filter(f => f._1 % 3 != 2 && f._1 % den < k)
      assert(nTrain == pool.length && nTest == ho.length, s"k=$k sizes")
      assert(nTrain > prevTrain, s"k=$k: nested subsets must grow")
      prevTrain = nTrain
      assert(frac == o4(k.toDouble / den), s"k=$k frac")
      val w = replayTrain(pool)
      val ec = ho.count { case (_, x1, x2, x3, y) =>
        val m = w(0) + w(1) * (x1 / xs) + w(2) * (x2 / xs) + w(3) * (x3 / xs)
        val pq = math.floor((1.0 / (1.0 + math.exp(-m))) * ps + 0.5).toLong
        (pq >= ps / 2) == (y == 1L)
      }.toLong
      assert(correct == ec, s"k=$k correct")
      assert(acc == o4(if (nTest == 0) 0.0 else ec.toDouble / nTest), s"k=$k acc")
    }
  }

  test("fightinWords: exact log-odds z replay, top-k per source") {
    val rows = CorpusOps.fightinWords(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("source",
        "explode(filter(split(trim(text), '\\\\s+'), t -> length(t) > 0)) token")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val ys = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val yt = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val ns = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n = toks.length.toLong
    val v = yt.size.toLong
    val a = CorpusOps.FwAlpha
    def o4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def zi(s: String, t: String): Long = {
      val yst = ys((s, t)).toDouble
      val d = math.log((yst + a) / (ns(s) + v * a - yst - a)) -
        math.log((yt(t) + a) / (n + v * a - yt(t) - a))
      val sg = math.sqrt(1.0 / (yst + a) + 1.0 / (yt(t) + a))
      math.floor(d / sg * 1000000000L + 0.5).toLong
    }
    assert(rows.groupBy(_._1).forall(_._2.length == CorpusOps.FwTopK))
    rows.groupBy(_._1).foreach { case (s, got) =>
      val expect = ys.keys.filter(_._1 == s).map(_._2).toSeq
        .map(t => (t, zi(s, t)))
        .sortBy { case (t, z) => (-z, t) }.take(CorpusOps.FwTopK)
      got.sortBy(_._2).zip(expect).foreach {
        case ((_, _, tok, yst, z), (et, ez)) =>
          assert(tok == et, s"$s: term $tok != $et")
          assert(yst == ys((s, et)), s"$s/$et count")
          assert(z == o4(ez.toDouble / 1e9), s"$s/$et z")
      }
    }
  }
}
