package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ops.{OpeningEnrichment, OpeningTrie}

class OpeningEnrichmentSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val openings: DataFrame = Seq(
    ("B00", "King's Pawn", "1. e4", "e2e4"),
    ("C20", "King's Pawn Game", "1. e4 e5", "e2e4 e7e5"),
    ("C40", "King's Knight Opening", "1. e4 e5 2. Nf3", "e2e4 e7e5 g1f3"),
    ("C60", "Ruy Lopez", "1. e4 e5 2. Nf3 Nc6 3. Bb5", "e2e4 e7e5 g1f3 b8c6 f1b5"),
    ("D00", "Queen's Pawn Game", "1. d4 d5", "d2d4 d7d5"),
    ("A00", "Dup Line", "1. b4", "b2b4"),
    ("A00b", "Dup Line Later", "1. b4", "b2b4")
  ).toDF("eco", "name", "pgn", "uci")

  private val gameRows = Seq[(Long, String, String, String)](
    // (game_id, clean_movetext, ECO, Opening)
    (1L, "1. e4 e5 2. Nf3 Nc6 3. Bb5 a6 4. Ba4 Nf6", null, null),
    (2L, "1. e4 e5 2. Nf3 d6", null, null),
    (3L, "1. d4 d5 2. c4", null, null),
    (4L, "1. c4 e5", null, null),                       // no opening matches
    (5L, "1. e4 e5", "X99", "Already Labeled"),         // not a target (P4)
    (6L, "1. b4 d5", null, null),                       // duplicate-pgn tie-break
    (7L, null, "X7", null)                              // no movetext
  )

  private lazy val games: DataFrame =
    gameRows.toDF("game_id", "clean_movetext", "ECO", "Opening")

  private lazy val noOpenings: DataFrame = openings.limit(0)

  /** (game_id, ECO, Opening) of `out`, ordered by game_id. */
  private def labels(out: DataFrame): Seq[(Long, String, String)] =
    out.orderBy("game_id")
      .select("game_id", "ECO", "Opening")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq

  /** Checks `form` over the openings and over an empty dimension. */
  private def check(form: (DataFrame, DataFrame) => DataFrame): Unit = {
    val m = labels(form(games, openings))
    assert(m(0) == ((1L, "C60", "Ruy Lopez")))          // longest match wins
    assert(m(1) == ((2L, "C40", "King's Knight Opening")))
    assert(m(2) == ((3L, "D00", "Queen's Pawn Game")))
    assert(m(3) == ((4L, null, null)))                  // unmatched unchanged
    assert(m(4) == ((5L, "X99", "Already Labeled")))    // non-target untouched
    assert(m(5) == ((6L, "A00b", "Dup Line Later")))    // (ply,eco,name)-max tie-break
    assert(m(6) == ((7L, "X7", null)))                  // null movetext unchanged
    assert(m.size == 7)
    // an empty dimension labels nothing and changes no row
    assert(labels(form(games, noOpenings)) ==
      gameRows.map { case (id, _, eco, op) => (id, eco, op) })
  }

  /** `form` run on a MemoryStream of `gameRows` (the rows of `games`),
    * drained into a memory table. */
  private def streamed(form: (DataFrame, DataFrame) => DataFrame)(
      g: DataFrame, o: DataFrame): DataFrame = {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String, String, String)]
    val name = s"enriched_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = form(in.toDF().toDF(g.columns.toIndexedSeq: _*), o)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      in.addData(gameRows)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  test("broadcast contains-join + argmax enrichment (parity form)") {
    check(OpeningEnrichment.enrich)
  }

  test("trie enrichment (scale form) agrees with parity form") {
    // batch and stream meet the same expected labels as the parity form
    check(OpeningEnrichment.enrichTrie)
    check(streamed(OpeningEnrichment.enrichTrie))
    // one trie walk per row: the optimized plan calls the lookup once (a
    // repartition keeps the optimizer from folding the local rows)
    val plan = OpeningEnrichment.enrichTrie(games.repartition(2), openings)
      .queryExecution.optimizedPlan.toString
    assert("UDF\\(".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("trie boundary: opening must end at word boundary") {
    val t = OpeningTrie.build(Seq(("1. e4 e5", 2, "C20", "KP Game")))
    assert(t.longestMatch("1. e4 e5 2. Nf3").contains(("C20", "KP Game")))
    assert(t.longestMatch("1. e4 e5").contains(("C20", "KP Game")))
    assert(t.longestMatch("1. e4 e55").isEmpty) // not a boundary
    assert(t.longestMatch("1. d4 d5").isEmpty)
    assert(t.longestMatch(null).isEmpty)
  }

  test("trie serializes as its flat rows and matches the same after a round trip") {
    import java.io._
    val lines = (1 to 90).map(i => (1 to 8).map(j => s"$j. m${(i * j) % 97}").mkString(" "))
    val rows = lines.zipWithIndex.map { case (l, i) => (l, 8, f"A$i%02d", s"line $i") } ++
      Seq(("1. e4", 1, "B00", "KP"), ("1. e4 e5", 2, "C20", "KP Game"),
        ("1. e4 e5", 2, "C20", "Another"))
    val t = OpeningTrie.build(rows)
    val probes = lines.map(_ + " 9. h4") ++
      Seq("1. e4 e5 2. Nf3", "1. e4 c5", "1. e4", "1. d4 d5", null)
    // looked up before serializing, so the node graph exists at that point
    val expected = probes.map(t.longestMatch)
    val buf = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(buf)
    out.writeObject(t)
    out.close()
    // the node graph stays out of the serialized form
    assert(buf.size < 4 * rows.map(r => r._1.length + r._3.length + r._4.length).sum)
    val back = new ObjectInputStream(new ByteArrayInputStream(buf.toByteArray))
      .readObject().asInstanceOf[OpeningTrie]
    assert(probes.map(back.longestMatch) == expected)
    assert(back.longestMatch("1. e4 e5 2. Nf3").contains(("C20", "KP Game")))
    assert(back.longestMatch(lines(7)).contains(("A07", "line 7")))
  }

  test("enrichment plan broadcasts the openings side (no fact shuffle)") {
    val plan = OpeningEnrichment.enrich(games, openings)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }
}
