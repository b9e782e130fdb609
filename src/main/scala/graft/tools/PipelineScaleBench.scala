package graft.tools

import java.nio.file.{Files, Paths}

import graft.ops.PgnDemo
import graft.pipeline.ChessPipeline

/** End-to-end pipeline run at the reference's CORPUS scale (r9 verdict
  * #5): ingest is proven at the 1.43 GB single-file point
  * ([[PgnIngestBench]]), but `ChessPipeline.run` — multi-source ingest →
  * normalize → trie enrich → manifest staging → fan-in → partitioned
  * publish — had no record at the reference's 14.31 GB / 24-source
  * corpus shape (`dvc.lock`: 24 monthly archives, largest 1.43 GB).
  *
  * This tool synthesizes that tree (24 sources, linearly skewed sizes so
  * the largest source ≈ the reference's largest file; per-source seeds),
  * runs the FULL pipeline cold, reports wall / games/s / publish layout
  * (Hive cells, files, files-per-cell — next to the reference's
  * 7,584-file small-file regime), then immediately re-runs to prove the
  * DVC-analog manifest skip at scale (second run must do no ingest
  * work). The openings dimension is the 9-row fixture set (trie lookup
  * is O(ply) per game regardless of dimension size, so games/s is
  * representative; the reference's real dimension is ~3.5k rows).
  *
  * `runMain graft.tools.PipelineScaleBench [totalBytes] [nSources] [root]`
  * — defaults 14.31 GB / 24 / localdata/pgn_corpus. The tree is reused
  * when already on disk at (or above) each source's target size.
  *
  * With a 4th arg `stream`, runs the STREAMING composition instead (the
  * r10 E2E corpus gate's shape at scale): per-source drop-dir
  * readStreams → full-row trie enrichment in the streaming plan →
  * per-micro-batch 20-column publish through PartitionedSink (append) —
  * Trigger.AvailableNow over the whole tree, i.e. the catch-up scenario
  * after a backlog of monthly archives lands at once. Reports wall and
  * games/s for the BASELINE catch-up row next to the batch numbers.
  */
object PipelineScaleBench {
  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toLong).getOrElse(14310000000L)
    val nSrc = args.lift(1).map(_.toInt).getOrElse(24)
    val root = args.lift(2).getOrElse("/root/repo/localdata/pgn_corpus")
    val inRoot = s"$root/in"
    val staging = s"$root/staging"
    val outDir = s"$root/out"

    // linearly skewed source sizes (w_i = i+1): source24 gets 2/25 of the
    // corpus ≈ 1.14 GB — the reference's monthly-archive skew shape
    val wsum = (1 to nSrc).map(_.toLong).sum
    val targets = (1 to nSrc).map(i => (s"src_%02d".format(i), total * i / wsum))
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val genT0 = System.nanoTime()
    val gens = targets.zipWithIndex.map { case ((key, bytes), i) =>
      Future {
        val dir = Paths.get(inRoot, key)
        Files.createDirectories(dir)
        val f = dir.resolve("games.pgn")
        if (!Files.exists(f) || Files.size(f) < bytes) {
          System.err.println(s"[pipe-scale] generating $key (~$bytes B)")
          PgnIngestBench.generate(f.toString, bytes, seed = 1000 + i)
        }
      }
    }
    gens.foreach(Await.result(_, Duration.Inf))
    pool.shutdown()
    val genWall = (System.nanoTime() - genT0) / 1e9
    val actualBytes = targets.map { case (k, _) =>
      Files.size(Paths.get(inRoot, k, "games.pgn"))
    }.sum

    val spark = graft.functions.chess.session("graft-pipeline-scale-bench",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    val sources = targets.map { case (k, _) =>
      ChessPipeline.Source(k, s"$inRoot/$k") }
    val openings = PgnDemo.fixtureOpeningsDF(spark)

    // cold full pipeline (wipe staging+out so manifests cannot pre-match)
    def rmTree(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.exists()) {
        import scala.jdk.CollectionConverters._
        Files.walk(f.toPath).iterator().asScala.toSeq.reverse
          .foreach(Files.delete)
      }
    }

    // generic valve pin (r12): any `graft.*=<v>` arg becomes a session
    // conf — e.g. graft.stream.publish.mode=marker runs the catch-up
    // through the object-store marker protocol on the local tree
    args.filter(a => a.startsWith("graft.") && a.contains("=")).foreach {
      a => val Array(k, v) = a.split("=", 2); spark.conf.set(k, v)
    }

    if (args.contains("stream")) {
      import graft.ops.{ChessExport, OpeningEnrichment}
      // `bounded=<n>` (r11): ONE stream over the whole tree with
      // maxFilesPerTrigger=n — the 100 TB catch-up shape, where the
      // backlog MUST drain as a sequence of bounded micro-batches (one
      // 14 GB batch is fine here; one 100 TB batch is not). DataSource
      // becomes a constant (the per-source keys belong to the per-source
      // union form), so parity vs the batch tree is over the game
      // columns.
      val bounded = args.find(_.startsWith("bounded="))
        .map(_.substring(8).toInt)
      // `outfs=<scheme>` (r13): publish through a wrapper filesystem —
      // outfs=renameless runs the catch-up against the rename-refusing
      // object-store model (RenamelessFs), so data promotion MUST take
      // marker mode's copy+delete fallback at corpus scale, not just at
      // the spec's row counts. The checkpoint stays on file: (a real
      // deployment keeps it on the reliable store Spark's offset log
      // supports; only the published tree is under test here).
      val outScheme = args.find(_.startsWith("outfs=")).map(_.substring(6))
      outScheme.foreach { s =>
        spark.sparkContext.hadoopConfiguration
          .set(s"fs.$s.impl", classOf[RenamelessFs].getName)
      }
      // n is encoded in the dir suffix (r11 advice): a `resume` run with a
      // DIFFERENT bounded=<n> must not silently reuse the previous n's
      // checkpoint+tree — each n gets its own pair
      val outLocal = s"$root/out_stream" + bounded.map(n => s"_bounded$n").getOrElse("")
      val outS = outScheme.map(s => s"$s://$outLocal").getOrElse(outLocal)
      val ckpt = s"$root/ckpt_stream" + bounded.map(n => s"_bounded$n").getOrElse("")
      // `resume` (r11 chaos protocol): keep the published tree AND the
      // checkpoint from a killed run — the restarted query must drain
      // only the remaining backlog and the publisher must hold
      // exactly-once through the replayed boundary batch
      val resume = args.contains("resume")
      val outPath = new org.apache.hadoop.fs.Path(outS)
      val outFs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (!resume) { outFs.delete(outPath, true); rmTree(ckpt) }
      // rows already published by the killed run: a resumed drain's rates
      // must cover only THIS run's rows (r11 advice — total-tree rates
      // over a resume-only wall inflate games_per_s). Counted over
      // COMMITTED batches only (r12 advice): a run killed between promote
      // and manifest commit leaves b<id>- orphan files the replay deletes
      // and re-publishes — counting them would understate this run's work.
      val preGames =
        if (!resume) 0L
        else {
          val committed = graft.streaming.StreamingPublish.committedBatches(outS)
          val tagged = "^b(\\d+)-part-.*".r
          val committedFiles = graft.sources.ForkFreeLocalFs
            .walkFiles(outFs, outFs.makeQualified(outPath)) {
              case tagged(id) => committed.contains(id.toLong)
              case _          => false
            }.map(_.getPath.toString)
          if (committedFiles.isEmpty) 0L
          else spark.read.parquet(committedFiles: _*).count()
        }
      def srcStream(src: ChessPipeline.Source) = ChessPipeline.normalize(
        spark.readStream.format("pgn").load(src.pgnDir), src.key)
      val raw = bounded match {
        case Some(n) =>
          ChessPipeline.normalize(spark.readStream.format("pgn")
            .option("maxFilesPerTrigger", n.toString).load(inRoot), "all")
        case None => sources.map(srcStream).reduce(_.unionByName(_))
      }
      val enriched = OpeningEnrichment.enrichTrie(raw, openings)
      // replay-idempotent publisher (foreachBatch is at-least-once)
      val publish = graft.streaming.StreamingPublish
        .partitionedPublisher(Seq("DataSource", "year", "month"), outS)
      val t0 = System.nanoTime()
      val q = enriched.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          publish(ChessExport.exportProjection(batch), id)
        }
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val games = spark.read.parquet(outS).count()
      // rate fields cover THIS run's work: games_per_s from the delta vs
      // the pre-resume tree; mb_per_s is null on a resume (the byte split
      // between the killed run and the drain is not recoverable)
      val gamesRun = games - preGames
      val json =
        s"""{"metric":"pipeline_stream_catchup","input_bytes":$actualBytes,""" +
        s""""n_sources":$nSrc,"wall":${f(wall)},"games":$games,""" +
        s""""games_this_run":$gamesRun,""" +
        s""""games_per_s":${(gamesRun / wall).toLong},""" +
        s""""mb_per_s":${if (resume) "null"
          else (actualBytes / wall / 1e6).toLong},""" +
        s""""batches":${new java.io.File(s"$ckpt/commits")
          .list((_, n) => !n.startsWith(".")) match {
            case null => 0
            case a    => a.length
          }},""" +
        s""""bounded":${bounded.getOrElse(0)},"resumed":$resume,""" +
        s""""outfs":"${outScheme.getOrElse("local")}",""" +
        // the RESOLVED commit strategy, not the raw conf: `auto` on a
        // renameless scheme IS marker mode, and the record must prove
        // which protocol actually ran
        s""""publish_mode":"${if (graft.streaming.StreamingPublish
          .useRenameMarkers(outFs, spark)) "rename" else "marker"}",""" +
        s""""checkpoint_mode":"${spark.conf.get(
          graft.Checkpointing.ModeKey, "local")}"}"""
      spark.stop()
      println(json)
      return
    }

    rmTree(staging); rmTree(outDir)
    val t0 = System.nanoTime()
    ChessPipeline.run(spark, sources, openings, staging, outDir)
    val coldWall = (System.nanoTime() - t0) / 1e9
    val published = spark.read.parquet(outDir).count()

    // publish layout: Hive cells (leaf dirs) and parquet files per cell
    import scala.jdk.CollectionConverters._
    val parqs = Files.walk(Paths.get(outDir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq
    val cells = parqs.groupBy(_.getParent).view.mapValues(_.size).toMap
    val maxPerCell = if (cells.isEmpty) 0 else cells.values.max
    val outBytes = parqs.map(Files.size).sum

    // warm re-run: every source manifest matches → pure skip + re-publish
    val t1 = System.nanoTime()
    ChessPipeline.run(spark, sources, openings, staging, outDir)
    val skipWall = (System.nanoTime() - t1) / 1e9

    val json =
      s"""{"metric":"pipeline_scale","input_bytes":$actualBytes,""" +
      s""""n_sources":$nSrc,"gen_wall":${f(genWall)},""" +
      s""""cold_wall":${f(coldWall)},"games":$published,""" +
      s""""games_per_s":${(published / coldWall).toLong},""" +
      s""""mb_per_s":${(actualBytes / coldWall / 1e6).toLong},""" +
      s""""publish_cells":${cells.size},"publish_files":${parqs.size},""" +
      s""""max_files_per_cell":$maxPerCell,"out_bytes":$outBytes,""" +
      s""""skip_rerun_wall":${f(skipWall)},""" +
      s""""source_concurrency":${ChessPipeline.windowFor(spark.sparkContext.defaultParallelism)}}"""
    spark.stop()
    println(json)
  }

  private def f(v: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, v)
}
