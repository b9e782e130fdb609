package lakebench

import java.nio.file.Files

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.ChessNorm
import graft.ops.{OpeningEnrichment, OpeningTrie}
import graft.pgn.PgnParser

/** Per-layer costs measured in isolation on seeded inputs of their own, so
  * they read the same way in every workload's traced run: the PGN parser,
  * per-row costs of the `chess.*` kernels over a generated frame, and the
  * opening trie.
  */
object Probes {
  val Rows = 40000L

  def run(ctx: Ctx): ListMap[String, Double] = ctx.span("probes") {
    val spark = ctx.spark
    val dir = Session.fresh(ctx.work.resolve("probe"))
    val pgn = dir.resolve("games.pgn")
    graft.tools.PgnIngestBench.generate(pgn.toString, 2L << 20, ctx.seed * 1000 + 777)
    val text = new String(Files.readAllBytes(pgn), "US-ASCII")

    // single-thread parser throughput, best of 3
    var games = 0
    val parseS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      games = PgnParser.parseString(text).size
      (System.nanoTime() - t0) / 1e9
    }.min
    val parsed = PgnParser.parseString(text).toVector
    val moves = parsed.map(_.movetext)
    val tcs = parsed.map(_.tags.getOrElse("TimeControl", "-"))

    // the generated frame: movetext, time control, word text, vectors
    val rnd = new scala.util.Random(ctx.seed)
    val words = Vector.fill(2000)(rnd.alphanumeric.take(3 + rnd.nextInt(7)).mkString.toLowerCase)
    val texts = Vector.fill(512)(Vector.fill(40 + rnd.nextInt(80))(words(rnd.nextInt(words.size))).mkString(" "))
    val k = math.min(moves.size, 1024)
    val frameDir = dir.resolve("frame").toString
    spark.range(Rows).select(
      element_at(typedLit(moves.take(k)), (col("id") % k + 1).cast("int")).as("movetext"),
      element_at(typedLit(tcs.take(k)), (col("id") % k + 1).cast("int")).as("tc"),
      element_at(typedLit(texts), (col("id") % texts.size + 1).cast("int")).as("text"),
      transform(sequence(lit(1), lit(256)), i => sin(i * col("id")).cast("float")).as("a"),
      transform(sequence(lit(1), lit(256)), i => cos(i + col("id")).cast("float")).as("b"))
      .write.mode(SaveMode.Overwrite).parquet(frameDir)
    val frame = spark.read.parquet(frameDir)

    // executor CPU of one aggregate over the frame, best of 2
    val cpuOf = scala.collection.mutable.HashMap.empty[String, Long]
    def cpuNs(c: Column): Long = cpuOf.getOrElseUpdate(c.toString, (1 to 2).map { _ =>
      ctx.meter.drain()
      val c0 = ctx.meter.cpuNs.get
      frame.select(c).collect()
      ctx.meter.drain()
      ctx.meter.cpuNs.get - c0
    }.min)
    // executor CPU per row of the kernel query over its baseline
    def perRowNs(base: Column, kernel: Column): Double =
      (cpuNs(kernel) - cpuNs(base)).toDouble / Rows
    val kernels = ListMap(
      "functions.moves_normalize_ns" -> perRowNs(sum(length(col("movetext"))),
        sum(length(graft.functions.chess.movesNormalize(col("movetext"))))),
      "functions.timecontrol_normalize_ns" -> perRowNs(sum(length(col("tc"))),
        sum(length(graft.functions.chess.timecontrolNormalize(col("tc"))))),
      "functions.tok_buckets_ns" -> perRowNs(sum(length(col("text"))),
        sum(size(graft.functions.chess.tokBuckets(col("text"), "p", 1000L)))),
      "functions.tok_stats_ns" -> perRowNs(sum(length(col("text"))),
        max(graft.functions.chess.tokStats(col("text")))),
      "functions.minhash_sigs_ns" -> perRowNs(
        sum(size(graft.functions.chess.shingleHashes(col("text")))),
        sum(size(graft.functions.chess.minhashSigs(graft.functions.chess.shingleHashes(col("text")))))),
      "functions.vec_dot_ns" -> perRowNs(sum(size(col("a")) + size(col("b"))),
        sum(graft.functions.chess.vecDot(col("a"), col("b")))))

    // the trie: longest match per game, and the per-call build
    val openings = Corpus.openings(spark, pgn, dir.resolve("openings"), 3500, ctx.seed)
    val rows = OpeningEnrichment.withPly(openings).select("pgn", "opening_ply", "eco", "name")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
    val trie = OpeningTrie.build(rows.toIndexedSeq)
    val clean = moves.map(ChessNorm.normalizeMoves)
    var hits = 0
    val lookupNs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      hits = clean.count(m => trie.longestMatch(m).isDefined)
      (System.nanoTime() - t0).toDouble / clean.size
    }.min
    val gamesDf = spark.read.format("pgn").load(pgn.toString)
      .withColumn("clean_movetext", graft.functions.chess.movesNormalize(col("movetext")))
    val buildMs = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      OpeningEnrichment.enrichTrie(gamesDf, openings)
      (System.nanoTime() - t0) / 1e6
    })
    require(hits > 0, "the probe games match no opening")
    ListMap("pgn.parse_games_per_s" -> games / parseS) ++ kernels ++ ListMap(
      "OpeningEnrichment.trie_lookup_ns" -> lookupNs,
      "OpeningEnrichment.trie_build_ms" -> buildMs)
  }
}
