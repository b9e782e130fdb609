package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.chess
import graft.ops.{ChessExport, OpeningEnrichment, OpeningTrie}
import graft.sources.{ForkFreeLocalFs, PgnFiles}

/** The whole-pipeline driver — Spark-native analog of the reference's DVC DAG
  * (SURVEY.md §3 E1-E3): per source `ingest → normalize → enrich → stage`,
  * then `project → partitioned publish` of that source's own
  * `DataSource=<key>` subtree ([[ChessExport.publish]]).
  *
  * Incrementality (the DVC content-hash analog, reference: dvc.lock): each
  * source's staging output carries a manifest hashing exactly the file
  * statuses its scan plans from ([[PgnFiles.list]]: qualified path, length,
  * modification time), the qualified publish root, the openings
  * fingerprint, and whether the source's last publish left a subtree. A
  * matching manifest skips the source and leaves its staged parquet and
  * published subtree as they are: per-source skip, as in the reference,
  * without re-reading input bytes. The manifest is written only after the
  * source's new subtree has been swapped into place, so a run that dies
  * before the swap restages the source next time. The published tree thus
  * always equals a from-scratch build: a restaged source's vanished cells
  * go with its old subtree, a source dropped from the registry loses its
  * subtree, and a deleted or new `outDir` is republished.
  *
  * `pgnDir` (a directory or a glob), `stagingDir` and `outDir` may be any
  * Hadoop URI; `<stagingDir>/<key>/_graft_manifest` goes through the file
  * system of `stagingDir`. One limit: `HfFileSystem` statuses carry
  * modification time 0, so an `hf://` input is keyed by path and length
  * only, and a same-length rewrite on the hub is not detected.
  */
object ChessPipeline {

  case class Source(key: String, pgnDir: String)

  /** PGN games → normalize columns → DataSource tag, on a batch or a
    * streaming read of the `pgn` format. Mirrors read-pgn.ts (S1/P1).
    */
  def normalize(games: DataFrame, key: String): DataFrame = games
    .withColumn("clean_movetext", chess.movesNormalize(col("movetext")))
    .withColumn("clean_timecontrol", chess.timecontrolNormalize(col("TimeControl")))
    .withColumn("DataSource", lit(key))

  /** One source: PGN scan → [[normalize]] → enrich against a broadcast
    * openings trie. Mirrors read-pgn.ts + find-openings.ts (D1/D2/J1/J2).
    */
  def ingestAndEnrich(
      spark: SparkSession,
      source: Source,
      trie: Broadcast[OpeningTrie]): DataFrame =
    OpeningEnrichment.enrichTrie(
      normalize(spark.read.format("pgn").load(source.pgnDir), source.key), trie)

  /** Bounded source-stage concurrency. The per-source DAGs (scan →
    * normalize → enrich → staging write → publish) are independent, and
    * one source's scan rarely has enough input splits to fill a cluster
    * (the 14.31 GB / 24-source measurement: serial staging kept ~2.4 of 32
    * cores busy — 15 MB/s aggregate over a corpus that scans at
    * ~150 MB/s). Submitting a bounded window of them concurrently lets
    * the scheduler fill executors with splits from several sources at
    * once — the exact behavior a multi-tenant driver has on a real
    * cluster. Bounded (not all-at-once) so a 1000-source corpus doesn't
    * hold 1000 write jobs' memory at the driver.
    *
    * The window is derived from the cluster shape: `clamp(cores, 2, 16)`.
    * One window slot per core: a source's stage is a chain of short jobs
    * with driver-side gaps between them (manifest checks, commit
    * barriers, a publish that waits on its staging write), and a small
    * source's jobs run one task each, so fewer sources than cores leave
    * cores idle (a window of `cores / 2` kept a 4-core box about half
    * idle through a 4-source ingest). The width sweep on the 32-core box
    * (14.31 GB / 24 sources, BASELINE.md r11) showed the same pull
    * toward deeper windows: 2 → 420 s, 8 → 175–176 s, 16 → 161–164 s.
    * The floor of 2 preserves overlap on tiny boxes; the cap of 16 bounds
    * driver-side job bookkeeping however wide the cluster.
    */
  def windowFor(cores: Int): Int = math.min(16, math.max(2, cores))

  /** Full run. `stagingDir` holds per-source enriched parquet + manifests;
    * `outDir` gets the partitioned publish, one `DataSource=<key>` subtree
    * per source. A source is restaged and republished when its manifest
    * does not match; every other source's subtree is left as it is, and
    * the subtree of a source no longer in `sources` is deleted.
    */
  def run(
      spark: SparkSession,
      sources: Seq[Source],
      openings: DataFrame,
      stagingDir: String,
      outDir: String): Unit = {
    // an empty registry would delete every published subtree
    require(sources.nonEmpty, "no sources to run")
    val sorted = sources.sortBy(_.key)
    // the openings dimension is a dependency of every enrich stage (the
    // reference's DVC DAG tracks it the same way, dvc.yaml:38-50): fold its
    // content fingerprint into each manifest so an updated dimension
    // invalidates the staged enrichment. One collect feeds the fingerprint
    // and the trie; the trie is broadcast only if a source is restaged,
    // and then once for all of them.
    val dim = OpeningEnrichment.dimension(openings).collect().toIndexedSeq
    val openingsFp = sha256(dim.map(r => (0 until 4).map(r.get(_)).mkString("\u0001")).sorted)
    // the qualified outDir: staging reused against another outDir must
    // republish there
    val conf = ForkFreeLocalFs.hadoopConf(spark)
    val out = new HPath(outDir)
    val fs = out.getFileSystem(conf)
    val root = fs.makeQualified(out)
    val sc = spark.sparkContext
    val manifests = sorted.map { s =>
      s -> Seq(ManifestFormat, root, inputManifest(s.pgnDir, sc.hadoopConfiguration), openingsFp)
        .mkString("\n")
    }.toMap
    def manifest(s: Source, published: Boolean) = s"${manifests(s)}\npublished=$published"
    def stage(s: Source) = s"$stagingDir/${s.key}"
    def manifestAt(s: Source) = new HPath(stage(s), "_graft_manifest")
    val stagingFs = new HPath(stagingDir).getFileSystem(conf)
    // skip a source only while its subtree is as its last publish left it
    val stale = sorted.filterNot { s =>
      val published = fs.exists(new HPath(out, ChessExport.sourceDir(s.key)))
      readManifest(stagingFs, manifestAt(s)).contains(manifest(s, published))
    }
    val trie = if (stale.isEmpty) None else Some(OpeningEnrichment.broadcastTrie(spark, dim))
    // stage and publish sources in a bounded-concurrency window; each
    // closure runs independent Spark jobs (the scheduler interleaves their
    // tasks), named after their stage and source. Validation markdown is
    // RETURNED and printed in source order below — concurrent stages must
    // not interleave their report lines.
    import spark.implicits._
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(windowFor(sc.defaultParallelism), stale.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val reports = sorted.map { src =>
      if (!stale.contains(src))
        Future.successful(s"[pipeline] skip ${src.key} (manifest match)")
      else Future {
        // validation tables (S10): same three statements the reference
        // renders through `duckdb -markdown` at read-pgn.ts:54-56 — total
        // count, parse-error count, and the parse-error rows. The counts
        // are observed on the staging write; the rows are read back only
        // when there are any.
        val obs = Observation()
        val enriched = ingestAndEnrich(spark, src, trie.get)
        named(sc, s"stage ${src.key}") {
          enriched.observe(obs, count(lit(1)).as("games"),
              count(col("parse_error")).as("parse_errors"))
            .write.mode(SaveMode.Overwrite).options(ForkFreeLocalFs.options)
            .parquet(stage(src))
        }
        // the known schema spares a schema-inference job
        val staged = spark.read.schema(enriched.schema).parquet(stage(src))
        val published = named(sc, s"publish ${src.key}") {
          ChessExport.publish(staged, src.key, outDir)
        }
        // only after the swap: a run that dies before it leaves no
        // manifest, so the next run restages this source
        writeManifest(stagingFs, manifestAt(src), manifest(src, published))
        val counts = obs.get.view.mapValues(_.asInstanceOf[Long])
        val bad = staged.filter(col("parse_error").isNotNull)
          .select(col("game_id"), col("Event"), col("parse_error"))
        named(sc, s"validate ${src.key}") {
          Seq(
            s"[pipeline] ${src.key}:",
            Markdown.render(Seq(counts("games")).toDF("games")),
            Markdown.render(Seq(counts("parse_errors")).toDF("parse_errors")),
            Markdown.render(if (counts("parse_errors") > 0) bad else bad.limit(0),
              maxRows = 20)
          ).mkString("\n")
        }
      }
    }
    try reports.foreach(r => println(Await.result(r, Duration.Inf)))
    finally {
      // every source future has completed, on success or failure, before
      // the run's trie broadcast is released from the driver and executors
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      trie.foreach(_.destroy())
    }
    ChessExport.retain(spark, sorted.map(_.key), outDir)
    if (stale.nonEmpty) {
      // combined-count validation (export-to-parquet.ts:102-104)
      println("[pipeline] published:")
      // the partition column as the schema spares a schema-inference job
      println(named(sc, "published") {
        Markdown.render(spark.read.schema("DataSource STRING").parquet(outDir)
          .agg(count(lit(1)).as("games")))
      })
    }
    println(s"[pipeline] → $outDir")
  }

  /** Runs `body` with the Spark jobs it launches named `site`, then
    * restores the thread's call site. Local properties reach the threads
    * AQE launches stage jobs from, so those jobs carry the name too
    * instead of a `CompletableFuture` frame of their own thread.
    */
  private def named[T](sc: SparkContext, site: String)(body: => T): T = {
    val saved = Seq("callSite.short", "callSite.long").map(k => k -> sc.getLocalProperty(k))
    sc.setCallSite(site)
    try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  // --- manifest (DVC-hash analog) ---

  /** First line of every manifest; changed whenever what a manifest
    * records changes, so one written by an older layout never matches. */
  private val ManifestFormat = "graft-manifest/3"

  /** Hash of the statuses the scan of `pgnDir` plans from, listed with
    * the same call and conf. */
  private def inputManifest(pgnDir: String, conf: Configuration): String =
    sha256(PgnFiles.list(Seq(pgnDir), conf)
      .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}"))

  /** Hex SHA-256 over `lines`, each newline-terminated. */
  private def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def readManifest(fs: FileSystem, p: HPath): Option[String] =
    Option.when(fs.exists(p)) {
      val in = fs.open(p)
      try new String(in.readAllBytes(), UTF_8).trim finally in.close()
    }

  private def writeManifest(fs: FileSystem, p: HPath, m: String): Unit = {
    val o = fs.create(p, true)
    try o.write(m.getBytes(UTF_8)) finally o.close()
  }
}

/** CLI: `runMain graft.pipeline.ChessPipelineMain <inRoot> <openingsUri> <stagingDir> <outDir>`
  * where each `<inRoot>/<sourceKey>/` directory holds that source's .pgn
  * files and `<openingsUri>` is any Hadoop-FS URI or recursive glob the
  * openings dimension lives under (see [[graft.sources.OpeningsSource]]).
  * Every argument may be any Hadoop URI.
  */
object ChessPipelineMain {
  def main(args: Array[String]): Unit = {
    val Array(inRoot, openingsPath, stagingDir, outDir) = args
    val spark = chess.session("graft-chess-pipeline",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
    spark.sparkContext.setLogLevel("WARN")
    val in = new HPath(inRoot)
    val sources = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(in).toSeq.filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
      .map(p => ChessPipeline.Source(p.getName, p.toString))
    require(sources.nonEmpty, s"no source directory under $inRoot")
    val openings = graft.sources.OpeningsSource.load(spark, openingsPath)
    ChessPipeline.run(spark, sources, openings, stagingDir, outDir)
    spark.stop()
  }
}
