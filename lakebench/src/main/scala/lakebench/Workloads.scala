package lakebench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.chess
import graft.ops.{ChessExport, OpeningEnrichment}
import graft.pipeline.ChessPipeline
import graft.streaming.StreamingPublish

/** A workload: inputs built by `setup` (repeated to time set-up), an
  * untimed `warm` step that builds any prebuilt state and runs the code
  * paths once, and timed passes of fixed work whose ops are each checked
  * outside their timed span. `finish` runs the checks that need a
  * reference built once per run.
  */
trait Workload {
  def setup(): Unit
  def warm(): Unit
  def pass(i: Int): Seq[Op]
  def finish(): Unit
  /** Timed passes an untraced run makes even when they take longer than
    * its `seconds`, so that every run pools the same number of samples.
    */
  def minPasses: Int = 1
  /** Workload-specific figures of the run's untraced passes. */
  def figures: Seq[(String, Double, String)] = Nil
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest"  => new Ingest(ctx)
    case "queries" => new Queries(ctx)
  }

  val PartCols = Seq("DataSource", "year", "month")

  /** Run independent untimed steps side by side, to shorten warm-up and
    * checks, on at most `threads` threads; their results in order.
    */
  def concurrently[T](threads: Int = Session.cores)(steps: (() => T)*): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(steps.size, threads)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    try steps.map(f => Future(f())).map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()
  }

  /** Pipeline output goes to a log file, not to the result stream. */
  def quiet[T](ctx: Ctx)(body: => T): T = {
    val log = new java.io.PrintStream(
      Files.newOutputStream(ctx.work.resolve("pipeline.log"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND))
    try Console.withOut(log)(body) finally log.close()
  }

  /** Modification times of the per-source staging manifests. */
  def manifests(staging: Path): Map[String, Long] =
    if (!Files.isDirectory(staging)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.list(staging).iterator().asScala.map(_.resolve("_graft_manifest"))
        .filter(Files.exists(_))
        .map(m => m.toString -> Files.getLastModifiedTime(m).toMillis).toMap
    }

  def runPipeline(ctx: Ctx, tree: Tree, openings: DataFrame, staging: Path,
      out: Path): Unit =
    ctx.span("pipeline.run") {
      quiet(ctx)(ChessPipeline.run(ctx.spark, tree.pipelineSources, openings,
        staging.toString, out.toString))
    }

  /** The AvailableNow catch-up of a whole tree in `PipelineScaleBench`'s
    * stream shape: per-source PGN streams, trie enrichment in the plan,
    * and a replay-idempotent partitioned publish per micro-batch.
    */
  def catchUp(ctx: Ctx, tree: Tree, openings: DataFrame, out: Path,
      ckpt: Path): Unit = ctx.span("catch-up") {
    val spark = ctx.spark
    val raw = tree.pipelineSources.map { s =>
      spark.readStream.format("pgn").load(s.pgnDir)
        .withColumn("clean_movetext", chess.movesNormalize(col("movetext")))
        .withColumn("clean_timecontrol", chess.timecontrolNormalize(col("TimeControl")))
        .withColumn("DataSource", lit(s.key))
    }.reduce(_.unionByName(_))
    val enriched = OpeningEnrichment.enrichStreamRows(raw, openings)
    val publish = StreamingPublish.partitionedPublisher(PartCols, out.toString)
    val q = enriched.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        publish(ChessExport.exportProjection(batch), id)
      }
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }
}

/** `ingest`: a cold `ChessPipeline.run` over a seeded 4-source tree into
  * empty staging and publish dirs, its no-change re-run (the manifest
  * skip), then an AvailableNow catch-up of the same tree. Scan, parse,
  * normalize, trie enrichment and partitioned writes do the work. The
  * tree is 16 MB because every run must fit the benchmark's time budget:
  * on a 4-core box a pass costs ~15 s, most of it per-source staging and
  * one parquet file per (source, year, month) cell, which do not shrink
  * with the data.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import Workload._
  val TotalBytes: Long = 16L << 20
  val Sources = 4
  val OpeningRows = 3500
  private val w = ctx.work
  var tree: Tree = _
  var openings: DataFrame = _
  private val batchFps = ArrayBuffer.empty[(Op, Fp)]
  private val batchOps = ArrayBuffer.empty[Op]
  private val catchOps = ArrayBuffer.empty[Op]
  private val noopOps = ArrayBuffer.empty[Op]
  private var reference: Map[String, (String, String)] = Map.empty

  def setup(): Unit = {
    tree = Corpus.tree(w.resolve("in"), TotalBytes, Sources, ctx.seed)
    openings = Corpus.openings(ctx.spark, tree.root.resolve(tree.keys.head).resolve("games.pgn"),
      w.resolve("openings"), OpeningRows, ctx.seed)
  }

  /** One batch run and one catch-up over a one-source tree of its own,
    * beside the opening reference for the tree's games.
    */
  def warm(): Unit = {
    val small = Corpus.tree(w.resolve("warm_in"), 512L << 10, 1, ctx.seed + 1)
    concurrently()(
      () => runPipeline(ctx, small, openings, Session.fresh(w.resolve("warm_staging")),
        Session.fresh(w.resolve("warm_out"))),
      () => catchUp(ctx, small, openings, Session.fresh(w.resolve("warm_stream")),
        Session.fresh(w.resolve("warm_ckpt"))),
      () => reference = Checks.openingReference(tree.read(ctx.spark), openings))
  }

  def out: Path = w.resolve("out")
  def staging: Path = w.resolve("staging")
  def streamOut: Path = w.resolve("stream_out")

  /** Sources each pipeline op re-staged (manifests it rewrote). */
  val restaged = scala.collection.mutable.LinkedHashMap.empty[Op, Int]

  private def pipelineOp(kind: String, name: String): Op = {
    val before = manifests(staging)
    val o = ctx.op(kind, name)(runPipeline(ctx, tree, openings, staging, out))
    restaged(o) = manifests(staging).count { case (k, t) => !before.get(k).contains(t) }
    o
  }

  def pass(i: Int): Seq[Op] = {
    Session.fresh(staging); Session.fresh(out)
    val batch = pipelineOp("batch", "cold")
    var fp: Fp = null
    ctx.check(batch) {
      fp = Checks.fingerprint(Checks.read(ctx.spark, out))
      batchFps += ((batch, fp))
      Checks.gameCount(fp, tree.games)
    }
    val before = Checks.snapshot(staging, out)
    val noop = pipelineOp("noop", "no-change")
    ctx.check(noop) {
      Checks.noChange(before, Checks.snapshot(staging, out), fp,
        Checks.fingerprint(Checks.read(ctx.spark, out)))
    }
    Session.fresh(streamOut)
    val ckpt = Session.fresh(w.resolve("stream_ckpt"))
    val cu = ctx.op("catchup", "available-now")(catchUp(ctx, tree, openings, streamOut, ckpt))
    ctx.check(cu) {
      val sfp = Checks.fingerprint(Checks.read(ctx.spark, streamOut))
      if (sfp != fp) Some(s"catch-up published $sfp, batch published $fp") else None
    }
    batchOps += batch
    noopOps += noop
    catchOps += cu
    Seq(batch, noop, cu)
  }

  /** Every batch op published the same multiset (equal fingerprints), so
    * checking the last output against the join-based reference covers
    * them all; the catch-up ops published that multiset too.
    */
  def finish(): Unit = if (batchFps.nonEmpty) {
    val (last, fp) = batchFps.last
    batchFps.foreach { case (o, f) =>
      if (f != fp) ctx.fail(o, s"${o.group}: batch outputs differ between passes") }
    ctx.check(last) {
      val bad = Checks.openingMismatches(Checks.read(ctx.spark, out), reference)
      if (bad > 0) Some(s"$bad published games differ from the enrich reference") else None
    }
  }

  override def figures: Seq[(String, Double, String)] = Seq(
    ("pipeline.ingest_games_per_s", Stats.median(batchOps.toSeq.map(o => tree.games / (o.wallMs / 1e3))), "1/s"),
    ("streaming.catchup_games_per_s", Stats.median(catchOps.toSeq.map(o => tree.games / (o.wallMs / 1e3))), "1/s"),
    ("pipeline.noop_ms", Stats.median(noopOps.toSeq.map(_.wallMs)), "ms"),
    ("pipeline.noop_jobs", Stats.median(noopOps.toSeq.map(o => ctx.meter.jobsIn(o.group).toDouble)), "count"))
}
