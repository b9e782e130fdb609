package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Streaming PGN ingestion: files dropped into the directory appear in the
  * next micro-batch, exactly once, with the normalize expressions applied in
  * the streaming plan.
  */
class PgnStreamingSpec extends AnyFunSuite with SparkTestBase {

  private def game(event: String, moves: String): String =
    s"""[Event "$event"]
       |[White "W"]
       |[Black "B"]
       |[Result "1-0"]
       |
       |$moves 1-0
       |""".stripMargin

  /** Full-tag game (the corpus-gate tests need UTCDate etc. to survive
    * the 20-column export projection).
    */
  private def fullGame(event: String, white: String, date: String,
      moves: String): String =
    s"""[Event "$event"]
       |[Site "S"]
       |[White "$white"]
       |[Black "B"]
       |[Result "1-0"]
       |[UTCDate "$date"]
       |[UTCTime "12:00:00"]
       |[TimeControl "300+3"]
       |[Termination "Normal"]
       |
       |$moves 1-0
       |""".stripMargin

  /** Canonical row multiset of a published parquet tree (all columns as
    * strings, name-sorted, row-sorted) — the corpus-gate equality form.
    */
  private def canonTree(dir: String): Seq[Seq[String]] = {
    val df = spark.read.parquet(dir)
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(c => col(c).cast("string")): _*).collect()
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .toSeq.sortBy(_.mkString("|"))
  }

  test("micro-batch stream picks up dropped files exactly once") {
    val dir: Path = Files.createTempDirectory("pgn_stream")
    Files.writeString(dir.resolve("first.pgn"), game("G1", "1. e4 e5"))

    val stream = spark.readStream.format("pgn")
      .option("splitBytes", String.valueOf(128L * 1024 * 1024))
      .load(dir.toString)
      .select(col("Event"),
        graft.functions.chess.movesNormalize(col("movetext")).as("m"))

    val q = stream.writeStream.format("memory").queryName("pgn_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val batch1 = spark.table("pgn_stream").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(batch1 == Set(("G1", "1. e4 e5")))

      // drop a second file → next batch contains only the new games
      Files.writeString(dir.resolve("second.pgn"), game("G2", "1. d4 d5"))
      q.processAllAvailable()
      val all = spark.table("pgn_stream").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(all == Set(("G1", "1. e4 e5"), ("G2", "1. d4 d5")))

      // no new files → no duplicates
      q.processAllAvailable()
      assert(spark.table("pgn_stream").count() == 2)
    } finally q.stop()
  }

  test("a large dropped file is byte-range split within its micro-batch (r9)") {
    // 40 games ≈ 2.6 KB; splitbytes=256 → the batch planner makes ~10
    // range splits. The stream must (a) plan the same splits instead of
    // one whole-file task — asserted via the shuffle-free physical
    // parallelism proxy: result partitions of the memory sink mirror the
    // source partitions — and (b) produce exactly the batch reader's
    // rows (split-boundary exactness under streaming).
    val dir: Path = Files.createTempDirectory("pgn_stream_split")
    val content = (1 to 40).map(i => game(s"G$i", "1. e4 e5 2. Nf3 Nc6")).mkString
    Files.writeString(dir.resolve("big.pgn"), content)

    val read = spark.read.format("pgn")
      .option("splitbytes", "256").load(dir.toString)
    assert(read.rdd.getNumPartitions > 1,
      "batch control: expected the file to split at this size")
    val expect = read.select(col("game_id"), col("Event")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    val q = spark.readStream.format("pgn")
      .option("splitbytes", "256").load(dir.toString)
      .select(col("game_id"), col("Event"))
      .writeStream.format("memory").queryName("pgn_split_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("pgn_split_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expect, "streamed rows must equal the batch reader's")
      assert(got.size == 40)
      // the planner itself: the stream's batch planned multiple partitions
      val parts = graft.sources.PgnFiles.splitFile(
        dir.resolve("big.pgn").toString, 0, Files.size(dir.resolve("big.pgn")), 256)
      assert(parts.length > 1, s"stream planner left one split: $parts")
    } finally q.stop()
  }

  test("E2E live ingest: pgn stream -> trie enrichment -> PGN sink via foreachBatch") {
    import graft.ops.OpeningEnrichment
    val s = spark
    import s.implicits._
    val dir: Path = Files.createTempDirectory("pgn_e2e_in")
    val outDir = Files.createTempDirectory("pgn_e2e_out").toString
    Files.writeString(dir.resolve("drop1.pgn"),
      game("E1", "1. e4 e5 2. Nf3") + "\n" + game("E2", "1. g3 d5"))
    val openings = Seq(
      ("C20", "King's Pawn Game", "1. e4 e5", "e2e4 e7e5"),
      ("C40", "King's Knight Opening", "1. e4 e5 2. Nf3", "e2e4 e7e5 g1f3"))
      .toDF("eco", "name", "pgn", "uci")

    val games = spark.readStream.format("pgn").load(dir.toString)
      .select(col("game_id"),
        graft.functions.chess.movesNormalize(col("movetext")).as("clean_movetext"),
        col("ECO"), col("Opening"))
    val enriched = OpeningEnrichment.enrichTrie(games, openings)
    val q = enriched.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // micro-batch publish through the PGN sink (streaming form of the
        // export stage); movetext column required by the writer, and an
        // Event tag so the written games have record boundaries
        if (!batch.isEmpty)
          graft.sources.PgnWriter.write(
            batch.withColumnRenamed("clean_movetext", "movetext")
              .withColumn("Event", concat(lit("game-"), col("game_id"))),
            s"$outDir/b$id")
      }
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val back = spark.read.format("pgn").load(s"$outDir/*/part-*")
        .select("ECO", "Opening", "movetext").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(back == Set(
        ("C40", "King's Knight Opening", "1. e4 e5 2. Nf3"),
        (null, null, "1. g3 d5")), s"got $back")
    } finally q.stop()
  }

  test("E2E streaming corpus gate: drop-dir tree → enrichStreamRows → PartitionedSink equals ChessPipeline.run (r10)") {
    // THE live-pipeline composition gate: the same multi-source tree run
    // (a) through the batch pipeline (ingest → enrich → staged → publish)
    // and (b) as a live stream (per-source drop-dir readStreams, unioned,
    // full-row trie enrichment in the streaming plan, per-micro-batch
    // 20-column publish through PartitionedSink in APPEND mode, plus the
    // digest-manifest stream) — drained, the two published corpora and
    // the two integrity manifests must be IDENTICAL. Files land in two
    // waves, and wave 2 touches a Hive cell wave 1 already wrote — the
    // case where per-batch dynamic overwrite would silently wipe rows.
    import graft.ops.{ChessExport, LakehouseOps, OpeningEnrichment}
    import graft.pipeline.ChessPipeline
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.DataFrame
    val s = spark
    import s.implicits._

    val root = Files.createTempDirectory("pgn_corpus_gate")
    val srcKeys = Seq("src_a", "src_b")
    srcKeys.foreach(k => Files.createDirectories(root.resolve(k)))
    Files.writeString(root.resolve("src_a/w1.pgn"),
      fullGame("A1", "W1", "2024.01.05", "1. e4 e5 2. Nf3") + "\n" +
        fullGame("A2", "W2", "2024.02.10", "1. g3 d5"))
    Files.writeString(root.resolve("src_b/w1.pgn"),
      fullGame("B1", "W3", "2024.01.20", "1. e4 e5"))

    val openings = Seq(
      ("C20", "King's Pawn Game", "1. e4 e5", "e2e4 e7e5"),
      ("C40", "King's Knight Opening", "1. e4 e5 2. Nf3", "e2e4 e7e5 g1f3"))
      .toDF("eco", "name", "pgn", "uci")
    val outStream = Files.createTempDirectory("gate_stream_out").toString

    def srcStream(k: String): DataFrame =
      spark.readStream.format("pgn").load(root.resolve(k).toString)
        .withColumn("clean_movetext",
          graft.functions.chess.movesNormalize(col("movetext")))
        .withColumn("clean_timecontrol",
          graft.functions.chess.timecontrolNormalize(col("TimeControl")))
        .withColumn("DataSource", lit(k))
    val enriched = OpeningEnrichment.enrichStreamRows(
      srcKeys.map(srcStream).reduce(_.unionByName(_)), openings)
    // replay-idempotent publisher (foreachBatch is at-least-once)
    val publish = graft.streaming.StreamingPublish
      .partitionedPublisher(Seq("DataSource", "year", "month"), outStream)
    val q = enriched.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        publish(ChessExport.exportProjection(batch), id)
      }
      .outputMode("append").start()
    // integrity manifest maintained live next to the publish; ids are
    // source-qualified (game_id is only unique per source scan)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val digestIn = srcKeys.map(srcStream).reduce(_.unionByName(_))
      .select(xxhash64(col("DataSource"), col("game_id")).as("id"),
        col("movetext"))
      .as[(Long, String)]
    val qd = StreamingOps.digestManifestStream(digestIn)
      .writeStream.format("memory").queryName("corpus_gate_digest")
      .outputMode("update").start()
    try {
      q.processAllAvailable(); qd.processAllAvailable()
      // wave 2: src_a hits the already-written 2024/01 cell
      Files.writeString(root.resolve("src_a/w2.pgn"),
        fullGame("A3", "W4", "2024.01.25", "1. e4 e5"))
      Files.writeString(root.resolve("src_b/w2.pgn"),
        fullGame("B2", "W5", "2024.03.01", "1. d4 d5"))
      q.processAllAvailable(); qd.processAllAvailable()
    } finally {
      q.stop(); qd.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }

    // batch reference over the SAME completed tree
    val staging = Files.createTempDirectory("gate_staging").toString
    val outBatch = Files.createTempDirectory("gate_out_batch").toString
    ChessPipeline.run(spark,
      srcKeys.map(k => ChessPipeline.Source(k, root.resolve(k).toString)),
      openings, staging, outBatch)

    val (sc, bc) = (canonTree(outStream), canonTree(outBatch))
    assert(sc.nonEmpty && sc == bc,
      s"streamed publish != batch publish (${sc.size} vs ${bc.size} rows)")

    // drained digest manifest == batch digest over the staged union
    val streamedDigest = spark.table("corpus_gate_digest").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
    val stagedUnion = srcKeys
      .map(k => spark.read.parquet(s"$staging/$k")).reduce(_.unionByName(_))
    val batchDigest = LakehouseOps.digestManifest(
        stagedUnion.select(
          xxhash64(col("DataSource"), col("game_id")).as("id"),
          col("movetext")),
        col("id"), col("movetext"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(streamedDigest == batchDigest, "manifest digest mismatch")
  }

  test("E2E restart: corpus stream resumes from checkpoint, publish stays exactly-once (r10)") {
    // the production drop-dir lifecycle: drain wave 1, STOP (deploy /
    // crash), wave 2 lands while the query is down, restart from the
    // SAME checkpoint — the restarted query must ingest only wave 2, and
    // the published tree must equal the batch pipeline on the full tree.
    import graft.ops.{ChessExport, OpeningEnrichment}
    import graft.pipeline.ChessPipeline
    import org.apache.spark.sql.DataFrame
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("pgn_restart_corpus")
    val src = root.resolve("src_r")
    Files.createDirectories(src)
    Files.writeString(src.resolve("w1.pgn"),
      fullGame("R1", "W1", "2024.01.05", "1. e4 e5 2. Nf3") + "\n" +
        fullGame("R2", "W2", "2024.02.10", "1. g3 d5"))
    val openings = Seq(
      ("C40", "King's Knight Opening", "1. e4 e5 2. Nf3", "e2e4 e7e5 g1f3"))
      .toDF("eco", "name", "pgn", "uci")
    val outStream = Files.createTempDirectory("restart_stream_out").toString
    val ckpt = Files.createTempDirectory("restart_corpus_ckpt").toString
    val publish = graft.streaming.StreamingPublish
      .partitionedPublisher(Seq("DataSource", "year", "month"), outStream)
    def start() = {
      val games = spark.readStream.format("pgn").load(src.toString)
        .withColumn("clean_movetext",
          graft.functions.chess.movesNormalize(col("movetext")))
        .withColumn("clean_timecontrol",
          graft.functions.chess.timecontrolNormalize(col("TimeControl")))
        .withColumn("DataSource", lit("src_r"))
      OpeningEnrichment.enrichTrie(games, openings)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          publish(ChessExport.exportProjection(batch), id)
        }
        .outputMode("append").start()
    }
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // offline wave — lands in a cell wave 1 already published
    Files.writeString(src.resolve("w2.pgn"),
      fullGame("R3", "W3", "2024.01.25", "1. e4 e5 2. Nf3"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val staging = Files.createTempDirectory("restart_staging").toString
    val outBatch = Files.createTempDirectory("restart_out_batch").toString
    ChessPipeline.run(spark,
      Seq(ChessPipeline.Source("src_r", src.toString)),
      openings, staging, outBatch)
    val (sc, bc) = (canonTree(outStream), canonTree(outBatch))
    assert(sc.size == 3 && sc == bc,
      s"restarted stream publish != batch publish (${sc.size} vs ${bc.size})")
  }

  test("streaming publish is replay-idempotent at every crash boundary (r10, r11)") {
    // foreachBatch is AT-LEAST-ONCE: a restart replays the last
    // uncommitted batch with the same batchId. The publisher must
    // produce identical output under (a) full replay of a committed
    // batch, (b) replay after the crash window where data+sentinel
    // landed but the manifest commit was lost, (b') replay after the
    // r10 RESIDUAL window — data fully promoted but the crash hit
    // before the sentinel (batch attribution must reclaim the orphans
    // instead of double-appending), (b'') replay over a HALF-promoted
    // attempt (extra tagged orphan in a cell), and (c) normal progress.
    import graft.streaming.StreamingPublish
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("pub_idem").toString
    def batchDf(ids: Range) = ids.map(i => (i.toLong, s"p${i % 2}"))
      .toDF("id", "p")
    def published() = spark.read.parquet(out).count()
    def deleteManifests(): Unit = {
      val st = Files.list(java.nio.file.Paths.get(out))
      try st.filter(_.getFileName.toString.startsWith("_graft_manifest_"))
        .forEach(p => Files.delete(p))
      finally st.close()
    }

    StreamingPublish.publishBatch(batchDf(0 until 10), 0L, Seq("p"), out)
    assert(published() == 10)
    // published data files carry the batch attribution tag
    val cell = java.nio.file.Paths.get(out, "p=p0")
    def cellFiles() = {
      val st = Files.list(cell)
      try {
        val b = Vector.newBuilder[String]
        st.forEach(p => b += p.getFileName.toString)
        // exclude .crc checksum sidecars (local-FS artifacts)
        b.result().filter(n => n.contains("part-") && !n.startsWith("."))
      } finally st.close()
    }
    assert(cellFiles().forall(_.startsWith("b0-")),
      s"published files not batch-attributed: ${cellFiles()}")
    // (a) full replay of batch 0 — committed manifest short-circuits
    StreamingPublish.publishBatch(batchDf(0 until 10), 0L, Seq("p"), out)
    assert(published() == 10, "committed-batch replay duplicated rows")
    // (b) crash window: data + sentinel landed, manifest commit lost —
    // reconstruct that exact state (the sentinel is pruned after a
    // SUCCESSFUL commit, so it exists only inside the window) and replay:
    // the publisher must repair the manifest without re-appending
    deleteManifests()
    Files.writeString(java.nio.file.Paths.get(out, "_graft_batch_0"), "done")
    StreamingPublish.publishBatch(batchDf(0 until 10), 0L, Seq("p"), out)
    assert(published() == 10, "sentinel-repair replay duplicated rows")
    assert(StreamingPublish.committedBatches(out) == Set(0L))
    assert(!Files.exists(java.nio.file.Paths.get(out, "_graft_batch_0")),
      "sentinel not pruned after commit")
    // (b') the r10 residual window: data fully promoted, crash BEFORE the
    // sentinel — no sentinel, no manifest, tagged files visible. The
    // replay must delete the orphans and re-promote exactly once.
    deleteManifests()
    StreamingPublish.publishBatch(batchDf(0 until 10), 0L, Seq("p"), out)
    assert(published() == 10,
      "promoted-data/no-sentinel replay duplicated rows")
    assert(StreamingPublish.committedBatches(out) == Set(0L))
    // (b'') half-promoted attempt: plant an extra b0-tagged orphan in a
    // cell the batch touches — the replay's per-cell orphan sweep must
    // remove it (attribution is by name, not by remembered file list)
    deleteManifests()
    val real = cellFiles().head
    Files.copy(cell.resolve(real), cell.resolve(s"b0-zzz-$real"))
    assert(published() > 10, "orphan plant should be visible pre-replay")
    StreamingPublish.publishBatch(batchDf(0 until 10), 0L, Seq("p"), out)
    assert(published() == 10, "half-promoted replay kept an orphan")
    assert(cellFiles().forall(!_.startsWith("b0-zzz-")), "orphan survived")
    // (c) the next batch appends normally
    StreamingPublish.publishBatch(batchDf(10 until 15), 1L, Seq("p"), out)
    assert(published() == 15)
    assert(StreamingPublish.committedBatches(out) == Set(0L, 1L))
    // no marker debris after a clean commit: one manifest, no sentinels,
    // no staging trees
    val leftover = {
      val st = Files.list(java.nio.file.Paths.get(out))
      try {
        val b = Vector.newBuilder[String]
        st.forEach(p => b += p.getFileName.toString)
        b.result().filter(n => n.startsWith("_graft_"))
      } finally st.close()
    }
    assert(leftover == Vector(f"_graft_manifest_${1L}%020d"),
      s"marker debris: $leftover")
  }

  test("publish modes per scheme: auto uses markers on an object-store " +
      "scheme; forced rename refuses loudly (r11/r12)") {
    import graft.streaming.StreamingPublish
    val s = spark
    import s.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockRemoteFs].getName)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "p")
    // auto (default): a scheme outside the atomic-rename set publishes
    // via conditional-create markers instead of being refused (r12) —
    // and the replay path stays idempotent through the custom FS
    val outAuto = s"mockfs://${Files.createTempDirectory("pub_auto")}"
    StreamingPublish.publishBatch(df, 0L, Seq("p"), outAuto)
    assert(spark.read.parquet(outAuto).count() == 2)
    StreamingPublish.publishBatch(df, 0L, Seq("p"), outAuto)
    assert(spark.read.parquet(outAuto).count() == 2)
    // forcing rename mode onto that scheme keeps the pre-r12 refusal
    spark.conf.set(StreamingPublish.ModeKey, "rename")
    val outForce = s"mockfs://${Files.createTempDirectory("pub_force")}"
    try {
      val e = intercept[IllegalStateException] {
        StreamingPublish.publishBatch(df, 0L, Seq("p"), outForce)
      }
      assert(e.getMessage.contains("mockfs"), e.getMessage)
      assert(e.getMessage.contains(StreamingPublish.AssumeAtomicRenameKey))
      // with the override asserted, forced rename publishes fine
      spark.conf.set(StreamingPublish.AssumeAtomicRenameKey, "true")
      StreamingPublish.publishBatch(df, 0L, Seq("p"), outForce)
      assert(spark.read.parquet(outForce).count() == 2)
    } finally {
      spark.conf.unset(StreamingPublish.AssumeAtomicRenameKey)
      spark.conf.unset(StreamingPublish.ModeKey)
    }
    // an unknown mode is rejected, not silently defaulted
    spark.conf.set(StreamingPublish.ModeKey, "banana")
    try intercept[IllegalArgumentException] {
      StreamingPublish.publishBatch(df, 1L, Seq("p"), outAuto)
    } finally spark.conf.unset(StreamingPublish.ModeKey)
  }

  test("publish modes interoperate on one tree: rename-mode commits read " +
      "back under marker mode and vice versa (r12)") {
    // manifests are terminator-suffixed in BOTH modes, so a deployment
    // can switch graft.stream.publish.mode mid-tree (e.g. file: staging
    // promoted to an object store mount) without losing the committed
    // set — the cross-mode read contract the scaladoc claims.
    import graft.streaming.StreamingPublish
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("pub_interop").toString
    def df(ids: Range) = ids.map(i => (i.toLong, s"p${i % 2}")).toDF("id", "p")
    spark.conf.set(StreamingPublish.ModeKey, "rename")
    try {
      StreamingPublish.publishBatch(df(0 until 6), 0L, Seq("p"), out)
      // marker mode reads the rename-mode manifest and appends on top
      spark.conf.set(StreamingPublish.ModeKey, "marker")
      assert(StreamingPublish.committedBatches(out) == Set(0L))
      StreamingPublish.publishBatch(df(6 until 10), 1L, Seq("p"), out)
      assert(spark.read.parquet(out).count() == 10)
      // and rename mode reads the marker-mode manifest back
      spark.conf.set(StreamingPublish.ModeKey, "rename")
      assert(StreamingPublish.committedBatches(out) == Set(0L, 1L))
      StreamingPublish.publishBatch(df(6 until 10), 1L, Seq("p"), out)
      assert(spark.read.parquet(out).count() == 10,
        "cross-mode replay duplicated rows")
    } finally spark.conf.unset(StreamingPublish.ModeKey)
  }

  test("marker mode is replay-idempotent at every crash boundary on a " +
      "store that cannot rename (r12)") {
    // the full r10/r11 crash-boundary enumeration, re-run against
    // RenamelessFs — every publisher rename (markers AND b<id>- data
    // promotes) returns false there, so this passes only if the marker
    // protocol commits via conditional-create and promotes via the
    // copy+delete fallback.
    import graft.streaming.StreamingPublish
    val s = spark
    import s.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.renameless.impl", classOf[graft.tools.RenamelessFs].getName)
    val local = Files.createTempDirectory("pub_marker")
    val out = s"renameless://$local"
    def batchDf(ids: Range) = ids.map(i => (i.toLong, s"p${i % 2}"))
      .toDF("id", "p")
    def published() = spark.read.parquet(out).count()
    def deleteManifests(): Unit = {
      val st = Files.list(local)
      try st.filter(_.getFileName.toString.startsWith("_graft_manifest_"))
        .forEach(p => Files.delete(p))
      finally st.close()
    }
    val cell = local.resolve("p=p0")
    def cellFiles() = {
      val st = Files.list(cell)
      try {
        val b = Vector.newBuilder[String]
        st.forEach(p => b += p.getFileName.toString)
        b.result().filter(n => n.contains("part-") && !n.startsWith("."))
      } finally st.close()
    }

    StreamingPublish.publishBatch(batchDf(0 until 10), 0L, Seq("p"), out)
    assert(published() == 10)
    assert(cellFiles().forall(_.startsWith("b0-")),
      s"published files not batch-attributed: ${cellFiles()}")
    // (a) committed replay short-circuits
    StreamingPublish.publishBatch(batchDf(0 until 10), 0L, Seq("p"), out)
    assert(published() == 10, "committed-batch replay duplicated rows")
    // (b) data + sentinel landed, manifest lost → manifest-only repair
    deleteManifests()
    Files.writeString(local.resolve("_graft_batch_0"), "done\n#end\n")
    StreamingPublish.publishBatch(batchDf(0 until 10), 0L, Seq("p"), out)
    assert(published() == 10, "sentinel-repair replay duplicated rows")
    assert(StreamingPublish.committedBatches(out) == Set(0L))
    // (b') promoted data, no sentinel → orphan sweep + re-promote once
    deleteManifests()
    StreamingPublish.publishBatch(batchDf(0 until 10), 0L, Seq("p"), out)
    assert(published() == 10,
      "promoted-data/no-sentinel replay duplicated rows")
    // (b'') half-promoted attempt: planted b0- orphan is swept
    deleteManifests()
    val real = cellFiles().head
    Files.copy(cell.resolve(real), cell.resolve(s"b0-zzz-$real"))
    StreamingPublish.publishBatch(batchDf(0 until 10), 0L, Seq("p"), out)
    assert(published() == 10, "half-promoted replay kept an orphan")
    // (b''') marker-mode-only window: the top manifest is TORN (crash
    // mid-create on a posix-like FS — an object-store PUT can't tear,
    // but the protocol tolerates the stricter failure). Readers must
    // fall back to the last terminated manifest and the replay must
    // delete-and-rewrite the torn one.
    StreamingPublish.publishBatch(batchDf(10 until 15), 1L, Seq("p"), out)
    assert(StreamingPublish.committedBatches(out) == Set(0L, 1L))
    val torn = local.resolve(f"_graft_manifest_${2L}%020d")
    Files.writeString(torn, "0\n1\n2") // no terminator: torn mid-write
    assert(StreamingPublish.committedBatches(out) == Set(0L, 1L),
      "torn manifest must not be trusted")
    StreamingPublish.publishBatch(batchDf(15 until 20), 2L, Seq("p"), out)
    assert(published() == 20)
    assert(StreamingPublish.committedBatches(out) == Set(0L, 1L, 2L))
    // no marker debris after a clean commit, and no rename slipped
    // through: all data files still batch-tagged
    val leftover = {
      val st = Files.list(local)
      try {
        val b = Vector.newBuilder[String]
        st.forEach(p => b += p.getFileName.toString)
        b.result().filter(n => n.startsWith("_graft_"))
      } finally st.close()
    }
    assert(leftover == Vector(f"_graft_manifest_${2L}%020d"),
      s"marker debris: $leftover")
  }

  test("a torn-only manifest tree degrades safely instead of wedging (r12 advice)") {
    // first-ever manifest in marker mode, torn mid-write on a posix-like
    // FS: no terminated manifest exists to skip down to, so the read
    // falls back to the highest (torn) content. A partial trailing line
    // ("#e") used to throw NumberFormatException on EVERY subsequent
    // committedBatches call — permanently wedging the stream — and a
    // fully-torn body must degrade to "nothing committed", after which
    // the replay repairs the manifest off the surviving sentinel.
    import graft.streaming.StreamingPublish
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("pub_torn")
    spark.conf.set(StreamingPublish.ModeKey, "marker")
    try {
      val df0 = (0 until 6).map(i => (i.toLong, s"p${i % 2}")).toDF("id", "p")
      StreamingPublish.publishBatch(df0, 0L, Seq("p"), out.toString)
      // write through the Hadoop FS (the default local FS is checksummed;
      // editing via java.nio would desync the .crc sidecar)
      val hOut = new org.apache.hadoop.fs.Path(out.toString)
      val hfs = hOut.getFileSystem(spark.sessionState.newHadoopConf())
      def put(name: String, content: String): Unit = {
        val o = hfs.create(new org.apache.hadoop.fs.Path(hOut, name), true)
        try o.write(content.getBytes("UTF-8")) finally o.close()
      }
      val manifest = hfs.listStatus(hOut).map(_.getPath.getName)
        .find(_.startsWith("_graft_manifest_")).get
      // reconstruct the crash state: promote completed (sentinel
      // present — cleanup never ran), manifest torn mid-terminator
      put("_graft_batch_0", "done\n#end\n")
      put(manifest, "0\n#e")
      assert(StreamingPublish.committedBatches(out.toString) == Set(0L),
        "numeric lines of a torn manifest are still safe (sentinel-first order)")
      // a replay whose batchId SURVIVED the tear must still repair the
      // manifest (rewrite it terminated) rather than short-circuit and
      // leave the tree terminator-less forever
      StreamingPublish.publishBatch(df0, 0L, Seq("p"), out.toString)
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(out.toString, manifest)).endsWith("#end\n"),
        "replay left the torn manifest unterminated")
      // r13 verdict #4, repair-then-READ: the next committed read must
      // resolve through the repaired TERMINATED manifest (attested) —
      // not keep paying the lenient fallback forever
      val (ids, attested) =
        StreamingPublish.committedState(hfs, hfs.makeQualified(hOut))
      assert(ids == Set(0L) && attested,
        s"read after repair not attested: ids=$ids attested=$attested")
      assert(spark.read.parquet(out.toString).count() == 6)
      // worst tear — no parseable line: nothing committed, no exception
      put("_graft_batch_0", "done\n#end\n") // the repair's cleanup pruned it
      put(manifest, "#e")
      assert(StreamingPublish.committedBatches(out.toString) == Set.empty)
      // the replay repairs: sentinel short-circuits the data write, the
      // manifest is rewritten terminated, rows are not duplicated
      StreamingPublish.publishBatch(df0, 0L, Seq("p"), out.toString)
      assert(StreamingPublish.committedBatches(out.toString) == Set(0L))
      assert(StreamingPublish.committedState(hfs, hfs.makeQualified(hOut))._2,
        "worst-tear repair left the tree unattested")
      assert(spark.read.parquet(out.toString).count() == 6,
        "torn-manifest repair duplicated rows")
    } finally spark.conf.unset(StreamingPublish.ModeKey)
  }

  test("legacy-upgrade window: a torn first terminated manifest unions " +
      "with the legacy manifests below it (r13 advice)") {
    // pre-r12 trees hold UNTERMINATED legacy manifests. Upgrading and
    // crashing mid-write of the first terminator-suffixed manifest
    // leaves a torn top whose surviving prefix may drop committed ids
    // the legacy manifests still record — the no-terminated fallback
    // must union the lenient parse across ALL manifests, or the repair's
    // end-of-batch pruning deletes that history (data files are safe
    // either way; committed-id accounting like resume preGames is not).
    import graft.streaming.StreamingPublish
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("pub_legacy")
    spark.conf.set(StreamingPublish.ModeKey, "marker")
    try {
      def df(ids: Range) = ids.map(i => (i.toLong, s"p${i % 2}"))
        .toDF("id", "p")
      StreamingPublish.publishBatch(df(0 until 4), 0L, Seq("p"), out.toString)
      StreamingPublish.publishBatch(df(4 until 8), 1L, Seq("p"), out.toString)
      StreamingPublish.publishBatch(df(8 until 12), 2L, Seq("p"), out.toString)
      val hOut = new org.apache.hadoop.fs.Path(out.toString)
      val hfs = hOut.getFileSystem(spark.sessionState.newHadoopConf())
      // write through the Hadoop FS (checksummed local FS — java.nio
      // edits would desync the .crc sidecars)
      def put(name: String, content: String): Unit = {
        val o = hfs.create(new org.apache.hadoop.fs.Path(hOut, name), true)
        try o.write(content.getBytes("UTF-8")) finally o.close()
      }
      def manifestName(id: Long) = f"_graft_manifest_$id%020d"
      // reconstruct the upgrade-crash state: batch 1's manifest is
      // LEGACY (unterminated, never pruned by the legacy code); batch
      // 2's manifest — the first terminator-suffixed write — tore after
      // its first line ("0" survived of "0\n1\n2\n#end\n"); batch 2's
      // promote had completed (sentinel present, cleanup never ran)
      hfs.delete(new org.apache.hadoop.fs.Path(hOut, manifestName(2L)), false)
      put(manifestName(1L), "0\n1\n")
      put(manifestName(2L), "0\n")
      put("_graft_batch_2", "done\n#end\n")
      // the committed read must union {0,1} ∪ {0} — parsing only the
      // torn top would report {0}, silently losing batch 1's history
      assert(StreamingPublish.committedBatches(out.toString) == Set(0L, 1L),
        "legacy manifests' committed ids dropped by the torn top")
      // foreachBatch redelivers batch 2: the sentinel short-circuits the
      // data write, the rewritten manifest carries the FULL history
      // terminated, and pruning then retires the legacy manifest safely
      StreamingPublish.publishBatch(df(8 until 12), 2L, Seq("p"), out.toString)
      assert(StreamingPublish.committedBatches(out.toString) ==
        Set(0L, 1L, 2L), "repair dropped committed history")
      assert(StreamingPublish.committedState(hfs, hfs.makeQualified(hOut))._2,
        "post-repair tree still reads through the lenient fallback")
      assert(spark.read.parquet(out.toString).count() == 12,
        "legacy-window replay duplicated rows")
      val manifests = hfs.listStatus(hOut).map(_.getPath.getName)
        .filter(_.startsWith("_graft_manifest_")).toVector.sorted
      assert(manifests == Vector(manifestName(2L)),
        s"stale manifests after repair: $manifests")
    } finally spark.conf.unset(StreamingPublish.ModeKey)
  }

  test("legacy-upgrade window repairs under RENAME markers too (r14 review)") {
    // the same crash state replayed after a mode switch (marker tree on
    // a posix FS, mode later unset → auto resolves to rename on file:)
    // — atomicWrite must delete-and-rewrite the torn destination like
    // markerWrite does; accepting the existing torn file as "already
    // committed" would let the pruning below it destroy the unioned
    // history and leave the tree unattested forever.
    import graft.streaming.StreamingPublish
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("pub_legacy_ren")
    def df(ids: Range) = ids.map(i => (i.toLong, s"p${i % 2}"))
      .toDF("id", "p")
    spark.conf.set(StreamingPublish.ModeKey, "marker")
    try {
      StreamingPublish.publishBatch(df(0 until 4), 0L, Seq("p"), out.toString)
      StreamingPublish.publishBatch(df(4 until 8), 1L, Seq("p"), out.toString)
      StreamingPublish.publishBatch(df(8 until 12), 2L, Seq("p"), out.toString)
    } finally spark.conf.unset(StreamingPublish.ModeKey)
    val hOut = new org.apache.hadoop.fs.Path(out.toString)
    val hfs = hOut.getFileSystem(spark.sessionState.newHadoopConf())
    def put(name: String, content: String): Unit = {
      val o = hfs.create(new org.apache.hadoop.fs.Path(hOut, name), true)
      try o.write(content.getBytes("UTF-8")) finally o.close()
    }
    def manifestName(id: Long) = f"_graft_manifest_$id%020d"
    hfs.delete(new org.apache.hadoop.fs.Path(hOut, manifestName(2L)), false)
    put(manifestName(1L), "0\n1\n")
    put(manifestName(2L), "0\n")
    put("_graft_batch_2", "done\n#end\n")
    // replay with NO mode conf: auto → rename markers on file:
    assert(StreamingPublish.committedBatches(out.toString) == Set(0L, 1L))
    StreamingPublish.publishBatch(df(8 until 12), 2L, Seq("p"), out.toString)
    assert(StreamingPublish.committedBatches(out.toString) == Set(0L, 1L, 2L),
      "rename-mode repair dropped committed history")
    assert(StreamingPublish.committedState(hfs, hfs.makeQualified(hOut))._2,
      "rename-mode repair left the tree unattested")
    assert(spark.read.parquet(out.toString).count() == 12,
      "rename-mode legacy replay duplicated rows")
  }

  test("restart from checkpoint: earlier-sorting new file processed once, no reprocessing") {
    val dir: Path = Files.createTempDirectory("pgn_restart")
    val ckpt = Files.createTempDirectory("pgn_ckpt").toString
    val outDir = Files.createTempDirectory("pgn_restart_out").toString
    // 'm.pgn' first; after restart drop 'a.pgn' which SORTS BEFORE it —
    // offset lineage must keep m.pgn's position and only ingest a.pgn
    // (memory sink can't recover from checkpoints → parquet sink)
    Files.writeString(dir.resolve("m.pgn"), game("M1", "1. e4 e5"))
    def start() = spark.readStream.format("pgn").load(dir.toString)
      .select(col("Event"))
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", outDir)
      .outputMode("append").start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    Files.writeString(dir.resolve("a.pgn"), game("A1", "1. d4 d5"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val events = spark.read.parquet(outDir).collect().map(_.getString(0)).sorted
      assert(events.sameElements(Array("A1", "M1")),
        s"expected exactly-once [A1, M1], got ${events.mkString(",")}")
    } finally q2.stop()
  }

  test("native AvailableNow: cap freezes at first poll, checkpoint order seeds first") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{PgnFiles, PgnMicroBatchStream, PgnOffset}
    val dir: Path = Files.createTempDirectory("pgn_cap")
    val conf = spark.sparkContext.hadoopConfiguration
    val opts = Map("path" -> dir.toString)
    def listed() = PgnFiles.list(Seq(dir.toString), conf).map(_.getPath.toString)
    Files.writeString(dir.resolve("a.pgn"), game("A", "1. e4 e5"))
    val Seq(aP) = listed()

    // capped: the file set is frozen at the first poll of the run — a
    // file dropped mid-run is NOT admitted (drain-what-was-present);
    // the poll after the cap returns the same offset, so the engine
    // terminates instead of chasing the drop dir forever
    val s1 = new PgnMicroBatchStream(opts, Array("Event"))
    s1.prepareForTriggerAvailableNow()
    val end1 = s1.latestOffset(s1.initialOffset(), ReadLimit.allAvailable())
      .asInstanceOf[PgnOffset]
    assert(end1.files == Seq(aP))
    Files.writeString(dir.resolve("b.pgn"), game("B", "1. d4 d5"))
    val end2 = s1.latestOffset(end1, ReadLimit.allAvailable())
      .asInstanceOf[PgnOffset]
    assert(end2.files == Seq(aP), "cap must exclude files dropped mid-run")

    // uncapped (ProcessingTime admission path): the same poll admits b
    val s2 = new PgnMicroBatchStream(opts, Array("Event"))
    val Seq(aP2, bP) = listed()
    assert(s2.latestOffset(s2.initialOffset(), ReadLimit.allAvailable())
      .asInstanceOf[PgnOffset].files == Seq(aP2, bP))

    // checkpoint discovery order seeds BEFORE the cap's fresh listing:
    // a restart whose stored order is [b, a] (reverse of sorted) must
    // keep that prefix — fileIndex → game_id lineage — with new files
    // appended after
    Files.writeString(dir.resolve("c.pgn"), game("C", "1. c4 c5"))
    val cP = listed().find(_.endsWith("c.pgn")).get
    val s3 = new PgnMicroBatchStream(opts, Array("Event"))
    s3.prepareForTriggerAvailableNow()
    val end3 = s3.latestOffset(PgnOffset(Seq(bP, aP)), ReadLimit.allAvailable())
      .asInstanceOf[PgnOffset]
    assert(end3.files == Seq(bP, aP, cP),
      s"checkpoint order must win over sorted listing: ${end3.files}")
  }

  test("maxFilesPerTrigger bounds each catch-up batch; the backlog drains across batches") {
    val dir: Path = Files.createTempDirectory("pgn_mft")
    val ckpt = Files.createTempDirectory("pgn_mft_ckpt")
    val outDir = Files.createTempDirectory("pgn_mft_out").toString
    (1 to 5).foreach(i =>
      Files.writeString(dir.resolve(s"f$i.pgn"), game(s"E$i", "1. e4 e5")))
    val q = spark.readStream.format("pgn")
      .option("maxFilesPerTrigger", "2")
      .load(dir.toString)
      .select(col("Event"))
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt.toString)
      .option("path", outDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val events = spark.read.parquet(outDir).collect().map(_.getString(0)).sorted
    assert(events.toSeq == (1 to 5).map(i => s"E$i"),
      s"exactly-once across bounded batches, got ${events.mkString(",")}")
    // 5 files at 2/trigger = 3 committed batches (0, 1, 2)
    import scala.jdk.CollectionConverters._
    val batches = Files.list(ckpt.resolve("offsets")).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq.sorted
    assert(batches == Seq("0", "1", "2"),
      s"expected 3 bounded batches, got $batches")
  }

  test("maxBytesPerTrigger: budget prefix in discovery order, at least one file") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{PgnFiles, PgnMicroBatchStream, PgnOffset}
    val dir: Path = Files.createTempDirectory("pgn_mbt")
    (1 to 3).foreach(i =>
      Files.writeString(dir.resolve(s"f$i.pgn"), game(s"E$i", "1. e4 e5")))
    val conf = spark.sparkContext.hadoopConfiguration
    val listed = PgnFiles.list(Seq(dir.toString), conf)
    val Seq((f1, s1), (f2, s2), _) = listed.map(f => (f.getPath.toString, f.getLen))
    val stream = new PgnMicroBatchStream(Map("path" -> dir.toString), Array("Event"))
    def files(lim: ReadLimit) =
      stream.latestOffset(stream.initialOffset(), lim).asInstanceOf[PgnOffset].files
    assert(files(ReadLimit.maxBytes(s1 + s2)) == Seq(f1, f2),
      "budget for exactly two files admits two")
    assert(files(ReadLimit.maxBytes(1)) == Seq(f1),
      "a budget below the first file still admits it (progress guarantee)")
    assert(files(ReadLimit.allAvailable()).size == 3)
  }

  test("maxBytesPerTrigger: a zero-length file is not mistaken for 'nothing admitted yet' (r12 advice)") {
    // regression pin for the explicit-admitted-flag fix: the old
    // `budget == maxBytes` first-file test read an admitted EMPTY file
    // (budget untouched) as "nothing admitted", so the NEXT, over-budget
    // file rode in alongside it — FileStreamSource admits only the empty
    // file there, and so must we
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{PgnMicroBatchStream, PgnOffset}
    val dir: Path = Files.createTempDirectory("pgn_mbt0")
    Files.createFile(dir.resolve("a_empty.pgn")) // sorts first, 0 bytes
    Files.writeString(dir.resolve("b_big.pgn"), game("B", "1. d4 d5"))
    val stream = new PgnMicroBatchStream(Map("path" -> dir.toString), Array("Event"))
    val admitted = stream
      .latestOffset(stream.initialOffset(), ReadLimit.maxBytes(1))
      .asInstanceOf[PgnOffset].files
    assert(admitted.map(f => f.substring(f.lastIndexOf('/') + 1))
      == Seq("a_empty.pgn"),
      s"budget=1 must admit ONLY the empty file, got $admitted")
  }

  test("an empty micro-batch publishes no file or cell, and replaying it is a no-op") {
    import scala.jdk.CollectionConverters._
    import graft.ops.ChessExport
    import graft.pipeline.ChessPipeline
    import graft.streaming.StreamingPublish
    val dir = Files.createTempDirectory("pgn_pre1500")
    Files.writeString(dir.resolve("old.pgn"),
      fullGame("O1", "W1", "1499.12.31", "1. e4 e5") + "\n" +
        fullGame("O2", "W2", "1201.06.01", "1. d4 d5"))
    val games = spark.read.format("pgn").load(dir.toString)
    assert(games.count() == 2)
    // the catch-up's batch shape: every game dated before 1500 is dropped
    val batch = ChessExport.exportProjection(ChessPipeline.normalize(games, "src_old"))
    val out = Files.createTempDirectory("pub_empty")
    def entries() = Files.walk(out).iterator().asScala
      .map(out.relativize(_).toString).filter(_.nonEmpty).toSet
    val publish = StreamingPublish.partitionedPublisher(Seq("DataSource", "year", "month"),
      out.toString)
    publish(batch, 0L)
    assert(entries().isEmpty, entries())
    publish(batch, 0L)
    assert(entries().isEmpty, entries())
    assert(StreamingPublish.committedBatches(out.toString).isEmpty)
  }
}
