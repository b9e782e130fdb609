package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the traced run records it. `site` is the job's call
  * site with the line number stripped (`collect at ChessPipeline.scala`),
  * so an unrelated edit cannot move a job between buckets; `group` is the
  * benchmark-set job group of the op that launched it, which the
  * pipeline's pool threads and AQE's stage submissions inherit.
  */
final class JobRec(val id: Int, val group: String, val op: String,
    val site: String, val startMs: Long) {
  @volatile var endMs: Long = -1
  var tasks = 0
  var maxTaskMs = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var deserMs = 0L
  var gcMs = 0L
  var delayMs = 0L
  var readBytes = 0L
  var stages = 0
}

/** Spark listener registered by the benchmark. Always on: executor CPU,
  * job counts per job group, and storage memory (the end-to-end
  * metrics need them). While `recording` it also keeps one [[JobRec]] per
  * job and every query's final physical plan.
  */
final class Meter(sc: SparkContext)
    extends SparkListener with QueryExecutionListener {
  val cpuNs = new AtomicLong
  private val groupJobs = new ConcurrentHashMap[String, AtomicLong]

  // storage memory: block -> bytes in memory, from block-update events
  private val blocks = mutable.HashMap.empty[String, Long]
  private var storageNow = 0L
  private var storagePeak = 0L

  val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]

  /** Group of the op running now; events are drained before it changes,
    * so a job or plan delivered while it is set belongs to that op (the
    * streaming engine runs its jobs under its own group).
    */
  @volatile var currentOp: String = ""
  /** Whether job records and plans are being kept. */
  @volatile var recording: Boolean = false

  sc.addSparkListener(this)

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.graft.ListenerBusBridge.drain(sc)

  def jobsIn(group: String): Long =
    Option(groupJobs.get(group)).map(_.get).getOrElse(0L)

  /** Restart the storage peak at the current level. */
  def resetStoragePeak(): Unit = synchronized { storagePeak = storageNow }
  def storagePeakBytes: Long = synchronized { storagePeak }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    groupJobs.computeIfAbsent(group, _ => new AtomicLong).incrementAndGet()
    if (recording) {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val rec = new JobRec(e.jobId, group, currentOp, Meter.stripLine(site), e.time)
      rec.stages = e.stageIds.size
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, rec)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      Option(jobs.get(stageJob.getOrDefault(e.stageId, -1))).foreach { j =>
        val info = e.taskInfo
        val dur = info.duration
        j.synchronized {
          j.tasks += 1
          j.maxTaskMs = math.max(j.maxTaskMs, dur)
          j.taskMs += dur
          j.cpuNs += m.executorCpuTime
          j.deserMs += m.executorDeserializeTime
          j.gcMs += m.jvmGCTime
          j.delayMs += math.max(0L, dur - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
          j.readBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val id = b.blockId.name
    val old = blocks.getOrElse(id, 0L)
    if (b.memSize > 0) blocks(id) = b.memSize else blocks.remove(id)
    storageNow += b.memSize - old
    storagePeak = math.max(storagePeak, storageNow)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (recording) plans.add((currentOp, qe))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Jobs of the op with job group `group`: those launched under the
    * group, and those delivered while it ran under another group. */
  def jobsOf(group: String): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.group == group || j.op == group).toSeq.sortBy(_.id)
}

object Meter {
  private val LineNo = """:\d+$""".r
  def stripLine(site: String): String = LineNo.replaceFirstIn(site.trim, "")
}
