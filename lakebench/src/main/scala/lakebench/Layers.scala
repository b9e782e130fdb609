package lakebench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A per-layer metric: value, unit, the end-to-end metric it should move
  * and on which workload, and where it should stay flat.
  */
final case class LayerMetric(value: Double, unit: String, moves: String)

/** Per-layer metrics of a traced pass, derived from the job records, the
  * final physical plans and the streaming progress events the benchmark's
  * listeners kept, from the ops' outputs on disk, and from [[Probes]].
  */
object Layers {
  /** Each layer metric: its unit, and the end-to-end metric it should move
    * on which workload, or where it should stay flat.
    */
  val Moves: ListMap[String, (String, String)] = ListMap(
    "sources.scan_mb" -> ("MB", "pass_s and pipeline.ingest_games_per_s on ingest; flat on queries"),
    "sources.pgn_splits" -> ("count", "pass_s and pipeline.ingest_games_per_s on ingest; flat on queries"),
    "pgn.parse_games_per_s" -> ("1/s", "pass_s and pipeline.ingest_games_per_s on ingest; flat on queries"),
    "functions.moves_normalize_ns" -> ("ns", "cpu_s on ingest"),
    "functions.timecontrol_normalize_ns" -> ("ns", "cpu_s on ingest"),
    "functions.tok_buckets_ns" -> ("ns", "cpu_s on queries"),
    "functions.tok_stats_ns" -> ("ns", "cpu_s on queries"),
    "functions.minhash_sigs_ns" -> ("ns", "cpu_s on queries"),
    "functions.vec_dot_ns" -> ("ns", "cpu_s on queries"),
    "OpeningEnrichment.trie_lookup_ns" -> ("ns", "cpu_s and op_p50_ms on ingest; flat on queries"),
    "OpeningEnrichment.trie_build_ms" -> ("ms", "cpu_s and op_p50_ms on ingest; flat on queries"),
    "ChessExport.publish_s" -> ("s", "pass_s and op_p50_ms on ingest; flat on queries"),
    "ChessExport.files" -> ("count", "pass_s and op_p50_ms on ingest; flat on queries"),
    "ChessExport.max_files_per_cell" -> ("count", "pass_s and op_p50_ms on ingest; flat on queries"),
    "ChessExport.out_bytes_per_in_byte" -> ("ratio", "pass_s and op_p50_ms on ingest; flat on queries"),
    "pipeline.stage_write_s" -> ("s", "pass_s and op_p50_ms on ingest; flat on queries"),
    "pipeline.validate_jobs" -> ("count", "pass_s and op_p50_ms on ingest; flat on queries"),
    "pipeline.validate_s" -> ("s", "pass_s and op_p50_ms on ingest; flat on queries"),
    "pipeline.restaged_sources" -> ("count", "pass_s and op_p50_ms on ingest; flat on queries"),
    "pipeline.noop_jobs" -> ("count", "pass_s on ingest (the no-change re-run); flat on queries"),
    "pipeline.driver_gap_s" -> ("s", "pass_s and op_p50_ms on ingest; flat on queries"),
    "pipeline.ingest_games_per_s" -> ("1/s", "pass_s and op_p50_ms on ingest; flat on queries"),
    "pipeline.noop_ms" -> ("ms", "pass_s on ingest (the no-change re-run); flat on queries"),
    "streaming.batches" -> ("count", "pass_s and streaming.catchup_games_per_s on ingest"),
    "streaming.commit_s" -> ("s", "pass_s and streaming.catchup_games_per_s on ingest"),
    "streaming.catchup_games_per_s" -> ("1/s", "pass_s on ingest; flat on queries"),
    "SparkEntry.build_s" -> ("s", "op_p50_ms and setup_s on queries"),
    "SparkEntry.build_jobs" -> ("count", "op_p50_ms and setup_s on queries"),
    "Checkpointing.jobs" -> ("count", "op_p50_ms and setup_s on queries"),
    "ops.exchanges" -> ("count", "cpu_s and pass_s on queries; flat on ingest"),
    "ops.broadcasts" -> ("count", "cpu_s and pass_s on queries; flat on ingest"),
    "ops.file_scans" -> ("count", "cpu_s and pass_s on queries; flat on ingest"),
    "ops.shuffle_write_mb" -> ("MB", "cpu_s and pass_s on queries; flat on ingest"),
    "ops.spill_mb" -> ("MB", "cpu_s and pass_s on queries; flat on ingest"),
    "ops.aggregate_s" -> ("s", "cpu_s and pass_s on queries; flat on ingest"),
    "ops.sort_s" -> ("s", "cpu_s and pass_s on queries; flat on ingest"),
    "ops.join_s" -> ("s", "cpu_s and pass_s on queries; flat on ingest"),
    "scheduler.jobs" -> ("count", "op_p50_ms on queries; little change on ingest"),
    "scheduler.stages" -> ("count", "op_p50_ms on queries; little change on ingest"),
    "scheduler.tasks" -> ("count", "op_p50_ms on queries; little change on ingest"),
    "scheduler.job_floor_ms" -> ("ms", "op_p50_ms on queries; little change on ingest"),
    "scheduler.deser_s" -> ("s", "op_p50_ms on queries; little change on ingest"),
    "scheduler.delay_s" -> ("s", "op_p50_ms on queries; little change on ingest"),
    "scheduler.gc_s" -> ("s", "op_p50_ms on queries; little change on ingest"),
    "scheduler.busy_share" -> ("ratio", "op_p50_ms on queries; little change on ingest"),
    "trace.overhead_s" -> ("s", "none: the traced pass's wall minus the untraced pass's"))

  private object Plans extends AdaptiveSparkPlanHelper

  /** Total length of the union of [start, end) intervals, in seconds. */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  private def ivs(js: Seq[JobRec]): Seq[(Long, Long)] = js.map(j => (j.startMs, j.endMs))

  /** Streaming progress events, kept while `on`. */
  final class StreamEvents extends StreamingQueryListener {
    @volatile var on = false
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Files, files per Hive cell and bytes of a published tree. */
  def layout(out: Path): (Int, Int, Long) = {
    val parqs = Files.walk(out).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
    val perCell = parqs.groupBy(_.getParent).values.map(_.size)
    (parqs.size, if (perCell.isEmpty) 0 else perCell.max, parqs.map(Files.size).sum)
  }

  def compute(ctx: Ctx, wl: Workload, traced: Seq[Op], untracedWallS: Double,
      stream: StreamEvents, probes: ListMap[String, Double]): ListMap[String, LayerMetric] = {
    val meter = ctx.meter
    val byOp = traced.map(o => o -> meter.jobsOf(o.group).filter(_.endMs >= 0)).toMap
    val jobs = byOp.values.flatten.toSeq
    val v = mutable.LinkedHashMap.empty[String, Double]
    Moves.keys.foreach(k => v(k) = 0.0)
    probes.foreach { case (k, x) => v(k) = x }
    val mb = 1024.0 * 1024.0
    val passWallS = traced.map(_.wallMs).sum / 1e3

    v("sources.scan_mb") = jobs.map(_.readBytes).sum / mb
    def site(j: JobRec, file: String) = j.site.endsWith(s" at $file")

    // pipeline ops: cold batch runs and no-change re-runs. A run
    // stages its sources (each ending in its validation renders), then
    // publishes: jobs after the op's last validation job are the fan-in
    // publish phase.
    val pipeOps = traced.filter(o => Set("batch", "noop")(o.kind))
    if (pipeOps.nonEmpty) {
      val validate = pipeOps.flatMap(byOp).filter(j => site(j, "Markdown.scala"))
      v("pipeline.validate_jobs") = validate.size
      v("pipeline.validate_s") = unionS(ivs(validate))
      v("pipeline.driver_gap_s") = pipeOps.map(o =>
        (o.wallMs / 1e3 - unionS(ivs(byOp(o)))).max(0.0)).sum
      val phases = pipeOps.map { o =>
        val js = byOp(o)
        val staged = js.filter(j => site(j, "Markdown.scala")).map(_.endMs).maxOption
        (js, staged)
      }
      v("pipeline.stage_write_s") = phases.map { case (js, staged) =>
        staged.map(t => unionS(ivs(js.filter(j => j.endMs <= t && !site(j, "Markdown.scala")))))
          .getOrElse(0.0) }.sum
      v("ChessExport.publish_s") = phases.map { case (js, staged) =>
        staged.map(t => unionS(ivs(js.filter(_.startMs >= t)))).getOrElse(0.0) }.sum
    }
    wl match {
      case in: Ingest =>
        v("sources.pgn_splits") = in.tree.pipelineSources.map(s =>
          ctx.spark.read.format("pgn").load(s.pgnDir).rdd.getNumPartitions).sum
        val written = traced.filter(o => o.kind != "noop").flatMap(in.restaged.get)
        if (written.nonEmpty) v("pipeline.restaged_sources") = Stats.median(written.map(_.toDouble))
        val (files, perCell, bytes) = layout(in.out)
        v("ChessExport.files") = files
        v("ChessExport.max_files_per_cell") = perCell
        v("ChessExport.out_bytes_per_in_byte") = bytes.toDouble / in.tree.bytes
        def rate(kind: String) = Stats.median(traced.filter(_.kind == kind)
          .map(o => in.tree.games / (o.wallMs / 1e3)))
        v("pipeline.ingest_games_per_s") = rate("batch")
        v("streaming.catchup_games_per_s") = rate("catchup")
        val noops = traced.filter(_.kind == "noop")
        v("pipeline.noop_jobs") = Stats.median(noops.map(o => meter.jobsIn(o.group).toDouble))
        v("pipeline.noop_ms") = Stats.median(noops.map(_.wallMs))
      case q: Queries =>
        val builds = q.builds.filter { case (o, _, _) => traced.contains(o) }
        v("SparkEntry.build_s") = builds.map { case (_, b0, b1) => (b1 - b0) / 1e9 }.sum
        v("SparkEntry.build_jobs") = builds.map { case (o, b0, b1) =>
          byOp(o).count(j => j.startMs * 1000000L >= b0 && j.startMs * 1000000L <= b1) }.sum
      case _ =>
    }
    v("Checkpointing.jobs") = jobs.count(j => site(j, "Checkpointing.scala"))

    // streaming progress of the traced pass
    val prog = stream.progress.asScala.toSeq
    v("streaming.batches") = prog.count(_.numInputRows > 0)
    v("streaming.commit_s") = prog.map { p =>
      val d = p.durationMs
      Seq("walCommit", "commitOffsets").map(k => Option(d.get(k)).map(_.longValue).getOrElse(0L)).sum
    }.sum / 1e3

    // physical operators of the final plans
    val tracedGroups = traced.map(_.group).toSet
    val nodes: Seq[SparkPlan] = meter.plans.asScala.toSeq.filter(p => tracedGroups(p._1))
      .flatMap { case (_, qe) => Plans.collectWithSubqueries(qe.executedPlan) { case n => n } }
    def metricSum(ns: Seq[SparkPlan], names: Set[String]): Double =
      ns.flatMap(_.metrics.filter(m => names(m._1)).values).map { m =>
        m.metricType match {
          case "nsTiming" => m.value / 1e9
          case "timing"   => m.value / 1e3
          case _          => m.value.toDouble
        }
      }.sum
    def cls(n: SparkPlan) = n.getClass.getSimpleName
    v("ops.exchanges") = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    v("ops.broadcasts") = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
    v("ops.file_scans") = nodes.count(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec])
    v("ops.shuffle_write_mb") = metricSum(nodes.filter(_.isInstanceOf[ShuffleExchangeExec]),
      Set("shuffleBytesWritten")) / mb
    v("ops.spill_mb") = metricSum(nodes, Set("spillSize")) / mb
    v("ops.aggregate_s") = metricSum(nodes.filter(n => cls(n).contains("Aggregate")), Set("aggTime"))
    v("ops.sort_s") = metricSum(nodes.filter(n => cls(n).startsWith("Sort")), Set("sortTime"))
    v("ops.join_s") = metricSum(nodes.filter(n => cls(n).contains("Join") ||
      n.isInstanceOf[BroadcastExchangeExec]), Set("buildTime"))

    // scheduler
    v("scheduler.jobs") = jobs.size
    v("scheduler.stages") = jobs.map(_.stages).sum
    v("scheduler.tasks") = jobs.map(_.tasks).sum
    if (jobs.nonEmpty)
      v("scheduler.job_floor_ms") = Stats.median(jobs.map(j => (j.endMs - j.startMs - j.maxTaskMs).toDouble))
    v("scheduler.deser_s") = jobs.map(_.deserMs).sum / 1e3
    v("scheduler.delay_s") = jobs.map(_.delayMs).sum / 1e3
    v("scheduler.gc_s") = jobs.map(_.gcMs).sum / 1e3
    v("scheduler.busy_share") = jobs.map(_.taskMs).sum / 1e3 / (passWallS * Session.cores)
    v("trace.overhead_s") = passWallS - untracedWallS

    ListMap(Moves.toSeq.map { case (k, (unit, moves)) => k -> LayerMetric(v(k), unit, moves) }: _*)
  }

  val Kernels = Seq("TokBuckets", "TokStats", "MinHashSigs", "VecDot")

  /** The `chess.*` kernels among `Kernels` that a query's plans call. */
  def kernelsIn(plans: Seq[org.apache.spark.sql.execution.QueryExecution]): Seq[String] = {
    val names = plans.flatMap(qe => Plans.collectWithSubqueries(qe.executedPlan) { case n => n })
      .flatMap(_.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName }))
      .toSet
    Kernels.filter(names)
  }

  /** Which kernel each selected query calls, from its final plans. */
  def kernelUse(ctx: Ctx, traced: Seq[Op]): ListMap[String, Seq[String]] = {
    val plans = ctx.meter.plans.asScala.toSeq
    val uses = traced.flatMap(o => kernelsIn(plans.filter(_._1 == o.group).map(_._2)).map(_ -> o.name))
    ListMap(Kernels.map(k => k -> uses.filter(_._1 == k).map(_._2).distinct.sorted): _*)
  }
}
