package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Opening enrichment — the reference's flagship operator (SURVEY.md §2.3
  * J1/J2; reference: src/find-openings.ts:63-80).
  *
  * Reference semantics: for each game with `Opening IS NULL`, find the
  * openings row with the greatest `opening_ply` whose `pgn` line is contained
  * in the game's `clean_movetext`; write its `eco`/`name` back onto the game.
  * The reference's `LIMIT 1` has a nondeterministic tie-break; we impose the
  * total order (opening_ply, eco, name) maximal (documented divergence,
  * SURVEY.md §7).
  *
  *  - [[enrichTrie]] — the pipeline form, for batch and streaming frames
  *    alike: every openings `pgn` is a move-sequence PREFIX, so a broadcast
  *    trie matches prefix-with-word-boundary (match must end at
  *    end-of-string or a space) in one walk of each game's movetext —
  *    O(len) per game instead of O(#openings × len) substring scans. The
  *    lookup is a per-row column (no join, no shuffle, no state), so it
  *    runs in any streaming output mode.
  *  - [[enrich]] — declarative parity form: broadcast theta-join on
  *    `contains(clean_movetext, pgn)` + per-game argmax via `max(struct(…))`
  *    and a join write-back. This is the form the DuckDB oracle SQL mirrors
  *    1:1.
  *
  * DELIBERATE DIVERGENCE (documented, SURVEY.md §7): the reference's
  * CONTAINS also matches an opening line appearing as an INTERIOR substring
  * (e.g. `"11. e4 e5"` contains `"1. e4"` starting at index 1), which
  * mislabels such games — an opening reached mid-game is not the game's
  * opening. Our pipeline semantics (both forms' documented contract, and
  * what tools/chess_golden.py oracles) are anchored prefix + boundary;
  * [[enrich]] keeps the literal contains form only as the 1:1 replay of the
  * reference SQL for the parity proof of the join/argmax shape.
  */
object OpeningEnrichment {

  /** openings(eco,name,pgn,uci) → + opening_ply (reference: find-openings.ts:65). */
  def withPly(openings: DataFrame): DataFrame =
    openings.withColumn("opening_ply", size(split(col("uci"), " ")))

  /** The openings rows a trie is built from: (eco, name, pgn, uci, opening_ply). */
  def dimension(openings: DataFrame): DataFrame =
    withPly(openings).select("eco", "name", "pgn", "uci", "opening_ply")

  /** Builds the trie over collected [[dimension]] rows and broadcasts it. */
  def broadcastTrie(spark: SparkSession, rows: Seq[Row]): Broadcast[OpeningTrie] =
    spark.sparkContext.broadcast(OpeningTrie.build(rows.map(r =>
      (r.getString(2), r.getInt(4), r.getString(0), r.getString(1)))))

  /** Parity form: broadcast contains-join + argmax. */
  def enrich(games: DataFrame, openings: DataFrame): DataFrame = {
    val ops = withPly(openings).select("eco", "name", "pgn", "opening_ply")
    val target = games.filter(col("Opening").isNull)
      .select(col("game_id").as("t_game_id"), col("clean_movetext"))
    val best = target
      .join(broadcast(ops), col("clean_movetext").contains(col("pgn")))
      .groupBy(col("t_game_id"))
      .agg(max(struct(col("opening_ply"), col("eco"), col("name"))).as("best"))
      .select(
        col("t_game_id"),
        col("best.eco").as("m_eco"),
        col("best.name").as("m_name"))
    writeBack(games, best)
  }

  /** Trie form over a one-off broadcast of `openings`' trie. */
  def enrichTrie(games: DataFrame, openings: DataFrame): DataFrame =
    enrichTrie(games, broadcastTrie(games.sparkSession,
      dimension(openings).collect().toIndexedSeq))

  /** Trie form: only Opening-IS-NULL rows are probed; a match overwrites
    * ECO and fills Opening, a miss leaves the row untouched. The lookup
    * UDF captures the broadcast handle, not the trie, so task binaries
    * stay small, and the match column is referenced twice, so the
    * optimizer keeps it a single walk per row.
    */
  def enrichTrie(games: DataFrame, trie: Broadcast[OpeningTrie]): DataFrame = {
    val lookup = udf((mt: String) => trie.value.longestMatch(mt))
    games
      .withColumn("__m", when(col("Opening").isNull, lookup(col("clean_movetext"))))
      .withColumn("ECO", coalesce(col("__m._1"), col("ECO")))
      .withColumn("Opening", coalesce(col("Opening"), col("__m._2")))
      .drop("__m")
  }

  /** Kept name for [[enrichTrie]], which serves streaming frames as is. */
  def enrichStreamRows(games: DataFrame, openings: DataFrame): DataFrame =
    enrichTrie(games, openings)

  /** J2 rewrite: no in-place UPDATE on immutable storage — left-join the
    * matched (game_id → eco,name) back and coalesce (reference:
    * find-openings.ts:71; SURVEY.md §2.3 J2). Untouched rows/columns pass
    * through bit-identical.
    */
  private def writeBack(games: DataFrame, best: DataFrame): DataFrame = {
    val out = games.join(broadcast(best), games("game_id") === best("t_game_id"), "left")
    out
      .withColumn("ECO", coalesce(col("m_eco"), col("ECO")))
      .withColumn("Opening", coalesce(col("Opening"), col("m_name")))
      .drop("t_game_id", "m_eco", "m_name")
  }
}

/** Character trie over opening `pgn` lines. `longestMatch` walks the
  * normalized movetext once, remembering the deepest terminal whose match
  * ends at a word boundary; when two openings share an identical pgn line,
  * the (ply,eco,name)-max one wins.
  *
  * The trie holds only the winning rows (~280 KB serialized for the full
  * openings table). The node graph (~6 MB as Java serialization) is a
  * transient lazy val built on the first lookup, so a broadcast neither
  * serializes it nor walks it for its size estimate; each JVM that looks
  * up builds it once (13–44 ms for the full table).
  */
final class OpeningTrie private (
    // a field, not a bare parameter: scalac may null a private field that
    // only a lazy val's initializer reads once that lazy val is set (it
    // does when the companion forces `root`), and the trie would then
    // serialize empty
    private[ops] val rows: Array[(String, Int, String, String)])
    extends Serializable {

  @transient private lazy val root: OpeningTrie.Node = {
    val root = new OpeningTrie.Node
    rows.foreach { case (pgn, ply, eco, name) =>
      var node = root
      var i = 0
      while (i < pgn.length) {
        node = node.children.getOrElseUpdate(pgn.charAt(i), new OpeningTrie.Node)
        i += 1
      }
      node.terminal = (ply, eco, name)
    }
    root
  }

  /** Longest opening whose pgn is a prefix of `movetext` ending at a word
    * boundary (end or space). Returns (eco, name).
    */
  def longestMatch(movetext: String): Option[(String, String)] = {
    if (movetext == null) return None
    var node = root
    var best: (Int, String, String) = null
    var i = 0
    while (node != null && i <= movetext.length) {
      if (node.terminal != null &&
          (i == movetext.length || movetext.charAt(i) == ' ') &&
          (best == null || OpeningTrie.gt(node.terminal, best)))
        best = node.terminal
      if (i < movetext.length) {
        node = node.children.getOrElse(movetext.charAt(i), null)
      } else node = null
      i += 1
    }
    Option(best).map(t => (t._2, t._3))
  }
}

object OpeningTrie {
  private final class Node {
    val children = new scala.collection.mutable.HashMap[Char, Node]
    var terminal: (Int, String, String) = _
  }

  private def gt(a: (Int, String, String), b: (Int, String, String)): Boolean =
    Ordering.Tuple3[Int, String, String].gt(a, b)

  /** A trie over `(pgn, ply, eco, name)` rows. */
  def build(rows: Seq[(String, Int, String, String)]): OpeningTrie = {
    val winners = rows.groupMapReduce(_._1)(r => (r._2, r._3, r._4))(
      (a, b) => if (gt(b, a)) b else a)
    new OpeningTrie(winners.iterator
      .map { case (pgn, (ply, eco, name)) => (pgn, ply, eco, name) }.toArray)
  }
}
