package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Span recorder of the traced run. Spans are opened and closed on the
  * calling thread only (nesting follows the call stack); spans built after
  * the fact (crawl phases from the `log` boundaries, Spark jobs and stages)
  * are added with an explicit parent. All times are `System.nanoTime`
  * relative to the recorder's creation. Nothing is written until the run
  * ends. */
final class Spans(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

  val originNs: Long = System.nanoTime()
  // epoch-ms → recorder ns, for the listener's wall-clock timestamps
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - originNs
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def now: Long = System.nanoTime() - originNs
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs - originNs
  def current: Int = stack.headOption.getOrElse(-1)

  def add(name: String, parent: Int, startNs: Long, endNs: Long): Int = synchronized {
    val id = spans.length
    spans += Span(id, name, parent, startNs, endNs)
    id
  }

  def span[T](name: String)(body: => T): T = {
    val id = add(name, current, now, -1L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      synchronized { spans(id) = spans(id).copy(endNs = now) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toVector)

  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "run_id" -> runId))
}

/** Stage ledger: a `SparkListener` the benchmark registers in the traced
  * run. Keeps one record per completed stage and job; task durations are
  * kept per stage for the skew figure. */
final class StageLedger(spans: Spans) extends SparkListener {
  final case class StageRec(stageId: Int, attempt: Int, name: String, numTasks: Int,
                            startNs: Long, endNs: Long, runMs: Long, shuffleWrite: Long,
                            shuffleRead: Long, spill: Long, taskMs: Seq[Long])
  final case class JobRec(jobId: Int, startNs: Long, endNs: Long)

  private val stages = ArrayBuffer.empty[StageRec]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val taskMs = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  @volatile private var lastEventNs = 0L

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val i = e.stageInfo
    val m = i.taskMetrics
    val submit = i.submissionTime.getOrElse(0L)
    val done = i.completionTime.getOrElse(submit)
    stages += StageRec(i.stageId, i.attemptNumber(), i.name, i.numTasks,
      spans.fromEpochMs(submit), spans.fromEpochMs(done),
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      taskMs.remove((i.stageId, i.attemptNumber())).map(_.toVector).getOrElse(Vector.empty))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    jobStarts(e.jobId) = spans.fromEpochMs(e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    val end = spans.fromEpochMs(e.time)
    jobs += JobRec(e.jobId, jobStarts.remove(e.jobId).getOrElse(end), end)
  }

  /** Waits until the listener bus has been quiet for `quietMs` (events are
    * delivered asynchronously), at most `maxMs`. */
  def drain(quietMs: Long = 300L, maxMs: Long = 5000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
      System.nanoTime() - lastEventNs < quietMs * 1000000L) Thread.sleep(50L)
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "stages" -> stages.map(s => Map(
        "stage_id" -> s.stageId, "attempt" -> s.attempt, "name" -> s.name,
        "num_tasks" -> s.numTasks, "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
        "run_s" -> s.runMs / 1e3, "shuffle_write_bytes" -> s.shuffleWrite,
        "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill,
        "task_s" -> s.taskMs.map(_ / 1e3))).toVector,
      "jobs" -> jobs.map(j => Map(
        "job_id" -> j.jobId, "start_s" -> j.startNs / 1e9, "end_s" -> j.endNs / 1e9)).toVector)
  }
}

/** Live-heap peak and collector time from the platform MXBeans. */
object Jvm {
  private lazy val heapPoolNames: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var livePeak = 0L
  @volatile private var watching = false

  private lazy val listener: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n: Notification, _: AnyRef) => {
        if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum
          synchronized { livePeak = math.max(livePeak, live) }
        }
      }, null, null)
    case _ => ()
  }

  /** Starts tracking the largest heap in use right after a collection
    * (the live set); young-generation sizing, which the collector adapts
    * from run to run, does not enter it. */
  def startLivePeak(): Unit = {
    listener
    livePeak = 0L
    watching = true
  }

  /** Peak live heap since [[startLivePeak]], in MB. A region too short to
    * collect at all reads the heap in use after one explicit collection. */
  def livePeakMb(): Double = {
    if (livePeak == 0L) System.gc()
    Thread.sleep(100L) // notifications arrive on their own thread
    watching = false
    val fallback = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (if (livePeak > 0L) livePeak else fallback) / 1048576.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}
