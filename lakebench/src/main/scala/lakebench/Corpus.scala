package lakebench

import java.nio.file.{Files, Path}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.functions.ChessNorm
import graft.pgn.PgnParser
import graft.pipeline.ChessPipeline
import graft.tools.PgnIngestBench

/** A generated multi-source PGN tree: `<root>/<key>/games.pgn`. */
final case class Tree(root: Path, sources: Seq[(String, Long, Long)]) {
  def keys: Seq[String] = sources.map(_._1)
  def games: Long = sources.map(_._2).sum
  def bytes: Long = sources.map(_._3).sum
  def pipelineSources: Seq[ChessPipeline.Source] =
    keys.map(k => ChessPipeline.Source(k, root.resolve(k).toString))

  /** Every game of the tree through the PGN source. */
  def read(spark: SparkSession): DataFrame =
    pipelineSources.map(s => spark.read.format("pgn").load(s.pgnDir)).reduce(_.unionByName(_))
}

/** Seeded inputs. Every PGN file comes from `PgnIngestBench.generate`
  * with its own seed; the benchmark hands graft only these files.
  */
object Corpus {
  /** `n` sources with linearly skewed sizes (source i gets weight i, the
    * `PipelineScaleBench` shape), generated concurrently.
    */
  def tree(root: Path, totalBytes: Long, n: Int, seed: Long): Tree = {
    Session.fresh(root)
    val wsum = (1 to n).sum.toLong
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Session.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val gens = (1 to n).map { i =>
        val key = f"src_$i%02d"
        Future {
          val dir = Files.createDirectories(root.resolve(key))
          val f = dir.resolve("games.pgn")
          val games = PgnIngestBench.generate(f.toString, totalBytes * i / wsum,
            seed * 1000 + i)
          (key, games, Files.size(f))
        }
      }
      Tree(root, gens.map(Await.result(_, Duration.Inf)))
    } finally pool.shutdown()
  }

  /** An openings dimension of `rows` rows, written as parquet under `dir`.
    * It holds every move-prefix (1 to 14 plies) of the opening lines the
    * corpus sample actually plays, which the games match, plus seeded
    * lines whose first move the sample never plays after a move number,
    * which give the dimension a realistic size and match nothing. No
    * line occurs inside a game except at its start, so the substring
    * match of `OpeningEnrichment.enrich` and the anchored trie of
    * `enrichTrie` agree on these inputs.
    */
  def openings(spark: SparkSession, sample: Path, dir: Path, rows: Int,
      seed: Long): DataFrame = {
    val text = new String(Files.readAllBytes(sample), "US-ASCII")
      .take(2 << 20)
    val moves = PgnParser.parseString(text)
      .map(g => ChessNorm.normalizeMoves(g.movetext)).toVector
    val plays = moves.map(_.split(' ').toVector).map(_.filterNot(_.endsWith(".")))
    def pgn(ms: Seq[String]): String =
      ms.zipWithIndex.map { case (m, i) =>
        if (i % 2 == 0) s"${i / 2 + 1}. $m" else m }.mkString(" ")
    val real = plays.flatMap(p => (1 to math.min(14, p.size)).map(p.take)).distinct
    val tokens = plays.flatten.distinct.sorted
    val first = Seq("a3", "a4", "b3", "b4", "f4", "g3", "h3", "h4", "Na3", "Nh3",
      "Nc3", "e3", "d3", "c3", "f3")
      .filterNot(m => moves.exists(_.contains(s"1. $m ")))
    require(first.nonEmpty, "no unplayed first move for the synthetic lines")
    val rnd = new scala.util.Random(seed)
    val synthetic = Iterator.continually {
      val len = 2 + rnd.nextInt(15)
      first(rnd.nextInt(first.size)) +: Vector.fill(len - 1)(tokens(rnd.nextInt(tokens.size)))
    }.filterNot(real.toSet).distinct.take(math.max(0, rows - real.size)).toVector
    val all = (real ++ synthetic).zipWithIndex.map { case (ms, i) =>
      val eco = s"${"ABCDE".charAt(i % 5)}${"%02d".format(i % 100)}"
      (eco, s"Line $i", pgn(ms), ms.indices.map(j => s"m$j").mkString(" "))
    }
    import spark.implicits._
    all.toDF("eco", "name", "pgn", "uci").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(dir.toString)
    graft.sources.OpeningsSource.load(spark, dir.toString)
  }
}
