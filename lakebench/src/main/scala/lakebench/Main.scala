package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** `lakebench.Main <workload> <seed> <seconds> <trace>`: one benchmark run
  * in one JVM. Prints the result object as the last stdout line and writes
  * the full record to `runs/<workload>-seed<seed>-trace<trace>.json`.
  *
  * Untraced (trace 0): set-up (timed three times, median), a warm pass,
  * then timed passes until `seconds` of passes and checks are used (at
  * least the workload's `minPasses`), reporting the end-to-end metrics.
  * Traced (trace 1): the same set-up and warm pass, one untraced pass,
  * one pass with job records, plans and streaming progress kept, then
  * the layer probes, reporting the per-layer metrics.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(k) = phases.getOrElse(k, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    val calibPre = phase("calib")(calib())
    val work = Session.fresh(Session.path(s"work/$name"))
    val s0 = System.nanoTime()
    val spark = Session.start(work)
    val sessionS = jvmS + (System.nanoTime() - s0) / 1e9
    val meter = new Meter(spark.sparkContext)
    spark.listenerManager.register(meter)
    val stream = new Layers.StreamEvents
    spark.streams.addListener(stream)
    val ctx = new Ctx(spark, meter, traced, work, seed)
    val wl = Workload(name, ctx)

    val setupReps = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      ctx.span("setup")(wl.setup())
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    ctx.span("warm")(wl.warm())
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(setupReps) + warmS

    phases("session") = sessionS
    phases("setup") = setupReps.sum
    phases("warm") = warmS
    val passes = ArrayBuffer.empty[Seq[Op]]
    def onePass(): Unit = passes += ctx.span("pass")(wl.pass(passes.size))
    if (!traced) phase("passes") {
      val t0 = System.nanoTime()
      var last = 0.0
      do {
        val p0 = System.nanoTime()
        onePass()
        last = (System.nanoTime() - p0) / 1e9
      } while (passes.size < wl.minPasses || (System.nanoTime() - t0) / 1e9 + last <= seconds)
    } else phase("passes") {
      onePass()
      meter.recording = true
      stream.on = true
      onePass()
      meter.drain()
      meter.recording = false
      stream.on = false
    }
    phase("finish")(ctx.span("check")(wl.finish()))
    val probes = if (traced) phase("probes")(Probes.run(ctx)) else ListMap.empty[String, Double]
    val calibPost = phase("calib")(calib())
    spark.streams.removeListener(stream)

    val timed = passes.toSeq
    val attempted = timed.map(_.size).sum
    val failed = timed.flatten.count(_.failed)
    val primary = timed.flatten.filter(o => o.kind != "noop").map(_.wallMs)
    val (tailLabel, tailMs) = Stats.tail(primary)
    val e2e: ListMap[String, (Double, String)] = ListMap(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Stats.median(timed.map(_.map(_.wallMs).sum / 1e3)), "s"),
      "cpu_s" -> (Stats.median(timed.map(_.map(_.cpuNs).sum / 1e9)), "s"),
      "op_p50_ms" -> (Stats.median(primary), "ms"),
      "op_tail_ms" -> (tailMs, "ms"),
      "storage_peak_mb" -> (Stats.median(timed.map(_.map(_.storagePeak).max / 1048576.0)), "MB"))
    val layers =
      if (traced) Layers.compute(ctx, wl, timed.last, timed.head.map(_.wallMs).sum / 1e3, stream, probes)
      else ListMap.empty[String, LayerMetric]
    val kernels = if (traced && name == "queries") Layers.kernelUse(ctx, timed.last) else ListMap.empty

    val out = System.out
    out.println(f"[lakebench] $name seed=$seed trace=${traceArg}: ops attempted=$attempted failed=$failed, passes=${timed.size}")
    out.println(s"[lakebench] load: calib_1_ms=${calibPre._1}/${calibPost._1} " +
      s"calib_${Session.cores}_ms=${calibPre._2}/${calibPost._2} calib_mem_ms=${calibPre._3}/${calibPost._3} (before/after)")
    if (!traced) {
      out.println(s"[lakebench] op_p50_ms over n=${primary.size} ops; op_tail_ms is $tailLabel of n=${primary.size}")
      wl.figures.foreach { case (k, x, u) => out.println(f"[lakebench] $k = $x%.4f $u") }
    } else {
      layers.foreach { case (k, m) => out.println(f"[lakebench] $k = ${m.value}%.4f ${m.unit}  -> ${m.moves}") }
      kernels.foreach { case (k, qs) => out.println(s"[lakebench] kernel $k called by: ${qs.mkString(", ")}") }
    }
    out.println("[lakebench] phases: " + phases.map { case (k, x) => f"$k=$x%.1fs" }.mkString(" "))
    ctx.failures.foreach(f => out.println(s"[lakebench] failure: $f"))

    val record = ListMap(
      "workload" -> name, "seed" -> seed, "trace" -> traced, "seconds" -> seconds,
      "cores" -> Session.cores,
      "load" -> ListMap("before" -> calibMap(calibPre), "after" -> calibMap(calibPost)),
      "setup" -> ListMap("session_s" -> sessionS, "reps_s" -> setupReps, "warm_s" -> warmS),
      "phases_s" -> phases,
      "attempted" -> attempted, "failed" -> failed, "failures" -> ctx.failures.toSeq,
      "passes" -> timed.map(_.map(opJson)),
      "end_to_end" -> e2e.map { case (k, (x, u)) => k -> ListMap("value" -> x, "unit" -> u) },
      "op_tail" -> ListMap("percentile" -> tailLabel, "n" -> primary.size),
      "figures" -> wl.figures.map { case (k, x, u) => k -> ListMap("value" -> x, "unit" -> u) }.toMap,
      "per_layer" -> layers.map { case (k, m) =>
        k -> ListMap("value" -> m.value, "unit" -> m.unit, "moves" -> m.moves) },
      "kernels" -> kernels,
      "spans" -> ctx.spans.toSeq.sortBy(_.id).map(s => ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "jobs" -> ({
        import scala.jdk.CollectionConverters._
        meter.jobs.values.asScala.toSeq.sortBy(_.id).map(j => ListMap("id" -> j.id,
          "group" -> j.group, "op" -> j.op, "site" -> j.site, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "tasks" -> j.tasks, "max_task_ms" -> j.maxTaskMs,
          "cpu_ns" -> j.cpuNs))
      }))
    val runs = Files.createDirectories(Session.path("runs"))
    Files.writeString(runs.resolve(s"$name-seed$seed-trace$traceArg.json"), Json(record) + "\n")

    val metrics =
      if (traced) layers.map { case (k, m) => k -> ListMap("value" -> m.value, "unit" -> m.unit) }
      else e2e.map { case (k, (x, u)) => k -> ListMap("value" -> x, "unit" -> u) }
    out.println(Json(ListMap("correct" -> (failed == 0 && ctx.failures.isEmpty),
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)))
    out.flush()
    spark.stop()
    sys.exit(0)
  }

  private def opJson(o: Op) = ListMap("kind" -> o.kind, "name" -> o.name, "group" -> o.group,
    "wall_ms" -> o.wallMs, "cpu_s" -> o.cpuNs / 1e9, "storage_peak_b" -> o.storagePeak,
    "failed" -> o.failed)

  /** Load context from graft's own probes: one-thread spin, all-core
    * spin, memory bandwidth.
    */
  private def calib(): (Long, Long, Long) =
    (graft.Bench.calib(1), graft.Bench.calib(Session.cores), graft.Bench.calibMem())

  private def calibMap(c: (Long, Long, Long)) =
    ListMap("calib_1_ms" -> c._1, s"calib_${Session.cores}_ms" -> c._2, "calib_mem_ms" -> c._3)
}
