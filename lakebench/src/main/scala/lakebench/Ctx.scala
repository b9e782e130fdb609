package lakebench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A span of the traced run: one benchmark call, its parent span, and its
  * start and end on the epoch-nanosecond clock jobs are compared against.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** One timed op. `group` is the Spark job group its jobs carry. */
final case class Op(kind: String, name: String, group: String, startNs: Long,
    endNs: Long, cpuNs: Long, storagePeak: Long, var failed: Boolean = false) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** State shared by the workloads of one run: the session, the listener,
  * the spans (traced run only), and the failures.
  */
final class Ctx(val spark: SparkSession, val meter: Meter, val traced: Boolean,
    val work: Path, val seed: Long) {
  val spans = ArrayBuffer.empty[Span]
  val failures = ArrayBuffer.empty[String]
  private var stack = List.empty[Int]
  private var opSeq = 0
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  /** Record a span around `body` when tracing. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = spans.size + stack.size
      val parent = stack.headOption.getOrElse(-1)
      val t0 = nowNs
      stack ::= id
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, nowNs)
      }
    }

  /** Run one timed op under its own job group. Its wall, executor CPU and
    * storage-memory peak are recorded; a throw marks it failed.
    */
  def op(kind: String, name: String)(body: => Unit): Op = {
    opSeq += 1
    val group = s"op$opSeq:$kind:$name"
    val sc = spark.sparkContext
    meter.drain()
    val cpu0 = meter.cpuNs.get
    meter.resetStoragePeak()
    sc.setJobGroup(group, name)
    meter.currentOp = group
    val t0 = nowNs
    val err = try { span(s"op:$kind:$name")(body); None }
    catch { case e: Throwable => Some(e) }
    finally sc.clearJobGroup()
    val t1 = nowNs
    meter.drain()
    meter.currentOp = ""
    val o = Op(kind, name, group, t0, t1, meter.cpuNs.get - cpu0, meter.storagePeakBytes)
    err.foreach { e =>
      e.printStackTrace()
      fail(o, s"$group threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    o
  }

  def fail(o: Op, why: String): Unit = {
    o.failed = true
    failures += why
    System.err.println(s"[lakebench] FAILED $why")
  }

  /** Check an op's output outside its timed span; a Some is a failure. */
  def check(o: Op)(body: => Option[String]): Unit =
    span(s"check:${o.group}") {
      val r = try body catch { case e: Throwable =>
        Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      r.foreach(why => fail(o, s"${o.group}: $why"))
    }
}
