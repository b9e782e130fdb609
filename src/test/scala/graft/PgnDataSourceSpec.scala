package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class PgnDataSourceSpec extends AnyFunSuite with SparkTestBase {

  private def writePgn(dir: Path, name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  private lazy val fixtureDir: Path = {
    val d = Files.createTempDirectory("pgn_fixture")
    writePgn(d, "a.pgn",
      """[Event "Game A1"]
        |[Site "X"]
        |[White "Alice"]
        |[Black "Bob"]
        |[Result "1-0"]
        |[WhiteElo "2400"]
        |[BlackElo "2350"]
        |[UTCDate "2020.05.12"]
        |[UTCTime "13:45:00"]
        |[TimeControl "300+3"]
        |
        |1. e4 e5 2. Nf3 Nc6 3. Bb5 a6 1-0
        |
        |[Event "Game A2"]
        |[White "Carol"]
        |[Black "Dan"]
        |[Result "0-1"]
        |[WhiteElo "bogus"]
        |[UTCDate "????.??.??"]
        |
        |1. d4 {queen's pawn
        |over two lines} d5 0-1
        |""".stripMargin)
    writePgn(d, "b.pgn",
      """[Event "Game B1"]
        |[Result "*"]
        |
        |1. c4 *
        |
        |[Event "Broken"]
        |[Result "*"]
        |
        |""".stripMargin)
    d
  }

  private lazy val df = spark.read.format("pgn").load(fixtureDir.toString)

  test("reads all games across files with tags as columns") {
    val rows = df.orderBy("game_id").collect()
    assert(rows.length == 4)
    val a1 = rows(0)
    assert(a1.getAs[String]("Event") == "Game A1")
    assert(a1.getAs[String]("White") == "Alice")
    assert(a1.getAs[Int]("WhiteElo") == 2400)
    assert(a1.getAs[java.sql.Date]("UTCDate").toString == "2020-05-12")
    assert(a1.getAs[String]("movetext") == "1. e4 e5 2. Nf3 Nc6 3. Bb5 a6 1-0")
    assert(a1.getAs[String]("parse_error") == null)
  }

  test("bad elo and unknown date become null, not errors") {
    val a2 = df.filter(col("Event") === "Game A2").head()
    assert(a2.getAs[Any]("WhiteElo") == null)
    assert(a2.getAs[Any]("UTCDate") == null)
    assert(a2.getAs[String]("parse_error") == null)
    assert(a2.getAs[String]("movetext").contains("queen's pawn"))
  }

  test("broken game captured via parse_error, scan does not fail (S1)") {
    val broken = df.filter(col("parse_error").isNotNull).collect()
    assert(broken.length == 1)
    assert(broken(0).getAs[String]("Event") == "Broken")
  }

  test("game_id is stable and unique: fileIndex<<40 | offset") {
    val ids1 = df.select("game_id").collect().map(_.getLong(0)).sorted
    val ids2 = spark.read.format("pgn").load(fixtureDir.toString)
      .select("game_id").collect().map(_.getLong(0)).sorted
    assert(ids1.sameElements(ids2))
    assert(ids1.distinct.length == 4)
    // b.pgn sorts after a.pgn → fileIndex 1
    assert(ids1.count(_ >= (1L << 40)) == 2)
  }

  test("column pruning: single-column select still works") {
    val events = df.select("Event").collect().map(_.getString(0)).sorted
    assert(events.sameElements(Array("Broken", "Game A1", "Game A2", "Game B1")))
  }

  test("byte-range splits agree with unsplit read") {
    // force ~200-byte splits: many partitions, same games, same game_ids
    val split = spark.read.format("pgn").option("splitBytes", "200")
      .load(fixtureDir.toString)
    val a = split.select("game_id", "Event").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val b = df.select("game_id", "Event").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(split.rdd.getNumPartitions > df.rdd.getNumPartitions)
    assert(a.sameElements(b))
  }

  test("split landing exactly on '[Event ' inside movetext does not fabricate a game") {
    // Adversarial: a brace comment contains the literal text `[Event "Fake"`.
    // Place a split boundary exactly at its '[' — the partial tail line then
    // begins with `[Event `, which a reader that trusts the first post-seek
    // line would treat as a game boundary (duplicate/garbage row).
    val d = Files.createTempDirectory("pgn_adversarial")
    val content =
      """[Event "Real One"]
        |[Result "1-0"]
        |
        |1. e4 {note [Event "Fake"] embedded} e5 1-0
        |
        |[Event "Real Two"]
        |[Result "0-1"]
        |
        |1. d4 d5 0-1
        |""".stripMargin
    writePgn(d, "adv.pgn", content)
    val fakeAt = content.indexOf("[Event \"Fake\"")
    assert(fakeAt > 0 && content.charAt(fakeAt - 1) != '\n') // mid-line by construction
    val split = spark.read.format("pgn").option("splitBytes", fakeAt.toString)
      .load(d.toString)
    val events = split.select("Event").collect().map(_.getString(0)).sorted
    assert(events.sameElements(Array("Real One", "Real Two")),
      s"got ${events.mkString(",")}")
  }

  test("multi-line comment opening after a split start cannot fabricate a game") {
    // Adversarial for prime(): split 2 begins at the start of game 2's
    // movetext line; the movetext then OPENS a multi-line { } comment whose
    // inner line starts with '[Event "Fake"]'. A prime() that scans for
    // boundaries without brace context picks the fake line and fabricates a
    // garbage game; with depth tracking it must skip it (split 1 owns the
    // whole of game 2 — its chunk extends past its range end).
    val d = Files.createTempDirectory("pgn_brace_split")
    val content =
      """[Event "Real One"]
        |[Result "1-0"]
        |
        |1. e4 e5 1-0
        |
        |[Event "Real Two"]
        |[Result "0-1"]
        |
        |1. d4 {long comment
        |[Event "Fake"]
        |still comment} d5 0-1
        |""".stripMargin
    writePgn(d, "brace.pgn", content)
    val splitAt = content.indexOf("1. d4 {")
    assert(splitAt > 0 && content.charAt(splitAt - 1) == '\n') // line start
    val split = spark.read.format("pgn").option("splitBytes", splitAt.toString)
      .load(d.toString)
    val events = split.select("Event").collect().map(_.getString(0)).sorted
    assert(events.sameElements(Array("Real One", "Real Two")),
      s"got ${events.mkString(",")}")
  }

  test("works with SQL + chess normalize end-to-end") {
    df.createOrReplaceTempView("games")
    val row = spark.sql(
      """SELECT chess_moves_normalize(movetext) AS m FROM games
        |WHERE Event = 'Game A2'""".stripMargin).head()
    assert(row.getString(0) == "1. d4 d5")
  }

  test("multi-path load: a comma or quote in a dir name, same files and game_ids as per-dir loads") {
    import graft.sources.PgnFiles
    val root = Files.createTempDirectory("pgn_multi")
    val dirs = Seq("a,b", "q\"x").map(n => Files.createDirectory(root.resolve(n)))
    def games(events: String*) = events.map(e =>
      s"[Event \"$e\"]\n[Result \"1-0\"]\n\n1. e4 e5 1-0\n").mkString("\n")
    writePgn(dirs(0), "2.pgn", games("A2a", "A2b"))
    writePgn(dirs(0), "1.pgn", games("A1"))
    Files.createDirectory(dirs(0).resolve("sub"))
    writePgn(dirs(0).resolve("sub"), "3.PGN", games("A3"))
    writePgn(dirs(0), "notes.txt", "not a game")
    writePgn(dirs(1), "x.pgn", games("Q1a", "Q1b"))
    val paths = dirs.map(_.toString)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(paths.toArray)
    assert(PgnFiles.paths(Map("paths" -> json)) == paths)

    val conf = spark.sparkContext.hadoopConfiguration
    val perDir = paths.map(p => PgnFiles.list(Seq(p), conf).map(_.getPath.toString))
    val all = PgnFiles.list(paths, conf).map(_.getPath.toString)
    assert(all == perDir.flatten.sorted)
    assert(all.size == 4 && all.forall(_.toLowerCase.endsWith(".pgn")))

    // a directory, its file: URI and its /*.pgn glob list the same files
    // with the lengths and modification times on disk
    def statuses(p: String) = PgnFiles.list(Seq(p), conf)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    val x = dirs(1).resolve("x.pgn")
    val onDisk = Seq((s"file:$x", Files.size(x), Files.getLastModifiedTime(x).toMillis))
    for (p <- Seq(dirs(1).toString, s"file://${dirs(1)}", s"${dirs(1)}/*.pgn"))
      assert(statuses(p) == onDisk, p)
    assert(statuses(s"file://${dirs(0)}") == statuses(dirs(0).toString))

    // a per-dir game_id rebased onto the combined file order
    val offset = (1L << 40) - 1
    val expected = paths.zip(perDir).flatMap { case (p, files) =>
      spark.read.format("pgn").load(p).select("Event", "game_id").collect().map { r =>
        val id = r.getLong(1)
        r.getString(0) -> ((all.indexOf(files((id >> 40).toInt)).toLong << 40) | (id & offset))
      }
    }.sorted
    val multi = spark.read.format("pgn").load(paths: _*).select("Event", "game_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    assert(multi == expected)
    assert(multi.map(_._1) == Seq("A1", "A2a", "A2b", "A3", "Q1a", "Q1b"))
  }

  test("line iterator: offsets and lines under short reads, CRLF, long lines, no final newline") {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.sources.OffsetLineIterator
    val rnd = new scala.util.Random(3)
    // a stream that returns at most `k` bytes per read
    def trickle(b: Array[Byte], k: Int) = new java.io.ByteArrayInputStream(b) {
      override def read(buf: Array[Byte], off: Int, len: Int): Int =
        super.read(buf, off, math.min(len, k))
    }
    // a lone '\r' ends no line
    val samples = Seq("", "\n", "a", "a\n", "a\r\nb", "\n\nx\r\n", "a\rb\r\n\r", "é€\n\ud83d\ude00") ++
      (1 to 12).map(_ => (1 to rnd.nextInt(20)).map(_ => rnd.nextInt(5) match {
        case 0 => "\n"
        case 1 => "\r\n"
        case 2 => "x" * rnd.nextInt(70000)
        case 3 => "é"
        case _ => "[Event \"e\"]"
      }).mkString)
    for (text <- samples; k <- Seq(1, 7, 1 << 20)) {
      val bytes = text.getBytes(UTF_8)
      def line(a: Int, b: Int) = {
        val e = if (b > a && bytes(b - 1) == '\r') b - 1 else b
        new String(bytes, a, e - a, UTF_8)
      }
      // one line per '\n'-terminated piece, plus a non-empty unterminated tail
      val ends = bytes.indices.filter(bytes(_) == '\n')
      val starts = 0 +: ends.map(_ + 1)
      val expected = starts.zip(ends :+ bytes.length)
        .filter { case (a, b) => b < bytes.length || a < b }
        .map { case (a, b) => (100L + a, line(a, b)) }
      val it = new OffsetLineIterator(trickle(bytes, k), 100L)
      val got = Iterator.continually(it.hasNext).takeWhile(identity)
        .map(_ => (it.nextOffset, it.next())).toSeq
      assert(got == expected, s"k=$k text of ${bytes.length} bytes")
    }
  }
}
