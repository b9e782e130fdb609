package lakebench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

/** One-off profile behind the `queries` selection: every
  * `SparkEntry.queries` entry, run cold and then warm over the given
  * data, with warm wall, build and execution time, executor CPU, job
  * count, and which of the `Layers.Kernels` its plans call. `runMain lakebench.Profile <sfDir> <out.json>`; the committed
  * record is `profile/queries_sf0.1.json`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val work = Session.fresh(Session.path("work/profile"))
    val spark = Session.start(work)
    val meter = new Meter(spark.sparkContext)
    spark.listenerManager.register(meter)
    meter.recording = true
    spark.range(1000000).selectExpr("sum(id)").collect()
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(tag: String): ListMap[String, Any] = {
        val group = s"$name/$tag"
        spark.sparkContext.setJobGroup(group, group)
        meter.drain()
        meter.plans.clear()
        meter.jobs.clear()
        meter.currentOp = group
        val cpu0 = meter.cpuNs.get
        val t0 = System.nanoTime()
        val r = try {
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          Right(((t1 - t0) / 1e9, (t2 - t1) / 1e9))
        } catch { case e: Throwable => Left(e.toString) }
        spark.sparkContext.clearJobGroup()
        meter.drain()
        meter.currentOp = ""
        import scala.jdk.CollectionConverters._
        r match {
          case Right((b, x)) => ListMap("wall_s" -> (b + x), "build_s" -> b,
            "exec_s" -> x, "cpu_s" -> (meter.cpuNs.get - cpu0) / 1e9,
            "jobs" -> meter.jobsIn(group),
            "kernels" -> Layers.kernelsIn(meter.plans.asScala.toSeq.map(_._2)))
          case Left(err) => ListMap("error" -> err)
        }
      }
      val cold = once("cold")
      val warm = once("warm")
      System.err.println(s"[profile] $name $warm")
      name -> ListMap("cold" -> cold, "warm" -> warm)
    }
    Files.writeString(Paths.get(out), Json(ListMap(
      "sf_dir" -> sfDir, "cores" -> Session.cores,
      "calib_1_ms" -> graft.Bench.calib(1),
      "calib_n_ms" -> graft.Bench.calib(Session.cores),
      "calib_mem_ms" -> graft.Bench.calibMem(),
      "queries" -> ListMap(rows: _*))) + "\n")
    spark.stop()
  }
}
