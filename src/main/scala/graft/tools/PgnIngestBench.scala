package graft.tools

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** PGN ingest at the reference's real file scale (r9, VERDICT item 5):
  * BASELINE's earlier ingest numbers cover 21.6 MB / 36 MB corpora, but
  * the reference's largest single file is 1.43 GB (`dvc.lock:56-58`).
  * This tool synthesizes a comparable single-file PGN (deterministic
  * seed; varied tag values, movetexts with comments/NAGs/long games so
  * the parser sees realistic block shapes) and sweeps the DSv2 reader's
  * `splitbytes` knob over it:
  *
  *   - wall (min of 2) and games/s per split size,
  *   - the planned split count,
  *   - a content checksum (sum of `hash(movetext, White, game per-file
  *     offset ignored)`) that must be IDENTICAL at every split size —
  *     the split-invariance witness: a mis-detected boundary would
  *     duplicate or drop a game and move the sum.
  *
  * `runMain graft.tools.PgnIngestBench [targetBytes] [outFile]` —
  * default 1.43 GB under java.io.tmpdir; the file is reused if it
  * already exists at (or above) the target size, so re-runs skip the
  * ~1 GB write.
  */
object PgnIngestBench {

  private val Openings = Seq(
    "1. e4 e5 2. Nf3 Nc6 3. Bb5 a6 4. Ba4 Nf6 5. O-O Be7 6. Re1 b5 7. Bb3 d6",
    "1. d4 d5 2. c4 e6 3. Nc3 Nf6 4. Bg5 Be7 5. e3 O-O 6. Nf3 h6 7. Bh4 b6",
    "1. c4 e5 2. Nc3 Nf6 3. Nf3 Nc6 4. g3 d5 5. cxd5 Nxd5 6. Bg2 Nb6 7. O-O Be7",
    "1. e4 c5 2. Nf3 d6 3. d4 cxd4 4. Nxd4 Nf6 5. Nc3 a6 6. Be3 e5 7. Nb3 Be6",
    "1. Nf3 d5 2. g3 g6 3. Bg2 Bg7 4. O-O e5 5. d3 Ne7 6. e4 O-O 7. Nc3 Nbc6")
  private val Fillers = Seq(
    "8. c3 O-O 9. h3 Nb8 10. d4 Nbd7 11. Nbd2 Bb7 12. Bc2 Re8 13. Nf1 Bf8",
    "8. Qc2 Bb7 9. Bxf6 Bxf6 10. cxd5 exd5 11. O-O-O Re8 {sharp} 12. h4 c5",
    "8. d4 exd4 9. Nxd4 Nxd4 10. Qxd4 O-O 11. Qd3 c6 12. b3 Re8 13. Bb2 Bf6",
    "8. f3 Be7 9. Qd2 O-O 10. O-O-O Nbd7 11. g4 b5 12. g5 b4 13. Ne2 Ne8",
    "8. Re1 Nd4 9. Nxd4 exd4 10. Ne2 c5 11. d3 Qb6 $1 12. Bf4 {plan} Be6")
  private val Results = Seq("1-0", "0-1", "1/2-1/2")

  /** Deterministic synthetic corpus; returns the number of games. */
  def generate(path: String, targetBytes: Long): Long =
    generate(path, targetBytes, 42)

  /** Seeded variant — [[PipelineScaleBench]] gives each source its own
    * seed so the multi-source tree isn't 24 copies of one stream. */
  def generate(path: String, targetBytes: Long, seed: Long): Long = {
    val rnd = new scala.util.Random(seed)
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    var bytes = 0L
    var n = 0L
    try {
      while (bytes < targetBytes) {
        val res = Results(rnd.nextInt(3))
        val moves = Openings(rnd.nextInt(Openings.length)) + " " +
          (0 until 1 + rnd.nextInt(4))
            .map(_ => Fillers(rnd.nextInt(Fillers.length))).mkString(" ")
        val g =
          s"""[Event "Volume Test ${rnd.nextInt(50)}"]
             |[Site "Synth"]
             |[White "Player${rnd.nextInt(100000)}"]
             |[Black "Player${rnd.nextInt(100000)}"]
             |[Result "$res"]
             |[WhiteElo "${1200 + rnd.nextInt(1600)}"]
             |[BlackElo "${1200 + rnd.nextInt(1600)}"]
             |[UTCDate "20${18 + rnd.nextInt(7)}.${"%02d".format(1 + rnd.nextInt(12))}.${"%02d".format(1 + rnd.nextInt(28))}"]
             |[UTCTime "${"%02d".format(rnd.nextInt(24))}:00:00"]
             |[TimeControl "${Seq("60+0", "300+3", "600+5")(rnd.nextInt(3))}"]
             |[Termination "Normal"]
             |
             |$moves $res
             |
             |""".stripMargin
        w.write(g)
        bytes += g.length // ASCII corpus: chars == bytes
        n += 1
      }
    } finally w.close()
    n
  }

  def main(args: Array[String]): Unit = {
    val target = args.headOption.map(_.toLong).getOrElse(1430000000L)
    val file = args.lift(1).getOrElse(
      Paths.get(System.getProperty("java.io.tmpdir"), "graft_pgn_volume.pgn").toString)
    if (!Files.exists(Paths.get(file)) || Files.size(Paths.get(file)) < target) {
      System.err.println(s"[pgn-ingest] generating ~$target bytes at $file ...")
      generate(file, target)
    }
    val len = Files.size(Paths.get(file))

    val spark = graft.functions.chess.session("graft-pgn-ingest-bench",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    val mib = 1024L * 1024
    if (args.contains("stream")) {
      // streaming catch-up at reference file scale (r9): AvailableNow over
      // the one big file, split vs whole-file — the planner-sharing fix's
      // measured effect. Each run uses a fresh memory sink.
      val rows = Seq("64mib" -> 64 * mib, "unsplit" -> len * 2).map { case (name, sb) =>
        val t0 = System.nanoTime()
        val q = spark.readStream.format("pgn")
          .option("splitbytes", sb.toString)
          .load(file)
          .select(col("game_id"))
          .writeStream.format("memory").queryName(s"ingest_$name")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val n = spark.table(s"ingest_$name").count()
        spark.sql(s"DROP TABLE IF EXISTS ingest_$name")
        (name, wall, n)
      }
      val json = rows.map { case (name, w, n) =>
        f""""$name":{"wall":$w%.2f,"games_per_s":${(n / w).toLong},"games":$n}"""
      }.mkString(s"""{"metric":"pgn_stream_ingest","file_bytes":$len,""", ",", "}")
      println(json)
      spark.stop()
      return
    }
    val sweep = Seq(
      "16mib" -> 16 * mib, "64mib" -> 64 * mib, "128mib" -> 128 * mib,
      "256mib" -> 256 * mib, "unsplit" -> len * 2)
    val rows = sweep.map { case (name, sb) =>
      def once(): (Double, Long, Long) = {
        val t0 = System.nanoTime()
        val r = spark.read.format("pgn")
          .option("splitbytes", sb.toString)
          .load(file)
          .agg(count(lit(1)).as("n"),
            sum(hash(col("movetext"), col("White"), col("Result")).cast("long")).as("chk"))
          .head
        ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
      }
      val (t1, n1, c1) = once()
      val (t2, n2, c2) = once()
      require(n1 == n2 && c1 == c2, s"nondeterministic read at $name")
      val splits = if (len <= sb * 3 / 2) 1L else (len + sb - 1) / sb
      (name, splits, math.min(t1, t2), n1, c1)
    }
    // split-invariance witness across ALL split sizes
    val checks = rows.map(r => (r._4, r._5)).distinct
    require(checks.size == 1,
      s"SPLIT-VARIANT READ: per-splitBytes (count, checksum) = $checks")
    val json = rows.map { case (name, splits, t, n, _) =>
      f""""$name":{"splits":$splits,"wall":$t%.2f,"games_per_s":${(n / t).toLong}}"""
    }.mkString(
      s"""{"metric":"pgn_ingest","file_bytes":$len,"games":${rows.head._4},""",
      ",", "}")
    println(json)
    spark.stop()
  }
}
