package lakebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

/** `queries`: selected `SparkEntry.queries` entries over the sf0.1 test
  * tables (`~/testdata/sf0.1`), each built and then materialized through the `noop` sink as
  * `graft.Bench` does, in a seeded order per pass. Read-only: physical
  * operators, the native kernels, `Checkpointing` and the per-job floor do
  * the work.
  */
final class Queries(ctx: Ctx) extends Workload {
  /** The sf0.1 test tables, under the home directory. */
  val SfDir: String = java.nio.file.Paths.get(sys.props("user.home"), "testdata", "sf0.1").toString
  private var expected: Map[String, Fp] = Map.empty
  /** (op, build span start, build span end) of every timed query op. */
  val builds = ArrayBuffer.empty[(Op, Long, Long)]

  def setup(): Unit =
    expected = Checks.expectedQueries(Session.path("../invariance_sf01.json"))

  /** One timed op: build and materialize `name`. The built frame is kept
    * for the check.
    */
  private def runOne(name: String): (Op, Option[DataFrame]) = {
    val fn = graft.SparkEntry.queries(name)
    var df: DataFrame = null
    var b0, b1 = 0L
    val o = ctx.op("query", name) {
      b0 = ctx.nowNs
      df = ctx.span("query.build")(fn(ctx.spark, SfDir))
      b1 = ctx.nowNs
      ctx.span("query.exec")(df.write.format("noop").mode("overwrite").save())
    }
    builds += ((o, b0, b1))
    (o, Option(df))
  }

  /** Every op's result fingerprinted after the pass, side by side, and
    * compared with its committed fingerprint. Each fingerprint re-executes
    * its query, and most of them wait on the per-job floor, so running them
    * all at once keeps a pass short enough that a run holds `minPasses`.
    */
  private def check(ran: Seq[(Op, Option[DataFrame])]): Unit = {
    val built = ran.collect { case (o, Some(df)) => (o, df) }
    val fps = ctx.span("check:pass")(Workload.concurrently(built.size)(built.map { case (_, df) =>
      () => scala.util.Try(Checks.fingerprint(df)) }: _*))
    built.zip(fps).foreach { case ((o, _), fp) =>
      ctx.check(o) {
        expected.get(o.name) match {
          case Some(e) if e == fp.get => None
          case Some(e) => Some(s"fingerprint ${fp.get}, committed $e")
          case None => Some("no committed fingerprint")
        }
      }
    }
  }

  /** `WarmRounds` unchecked passes, the entries of each run concurrently
    * to shorten it. The first compiles every plan. Walls keep falling for
    * several passes after that as the JIT warms up, mostly outside
    * executor CPU; the later rounds take a run most of the way to a
    * steady state.
    */
  def warm(): Unit = (1 to Queries.WarmRounds).foreach { _ =>
    Workload.concurrently()(QueryList.names.map(n => () =>
      graft.SparkEntry.queries(n)(ctx.spark, SfDir).write.format("noop").mode("overwrite").save()): _*)
  }

  def pass(i: Int): Seq[Op] = {
    val ran = new scala.util.Random(ctx.seed * 7919 + i).shuffle(QueryList.names).map(runOne)
    check(ran)
    ran.map(_._1)
  }

  /** Four passes pool 32 op samples, enough that `op_tail_ms` is a
    * percentile (p68) and not the wall of the single slowest op.
    */
  override def minPasses: Int = 4

  def finish(): Unit = ()
}

object Queries {
  val WarmRounds = 3
}
