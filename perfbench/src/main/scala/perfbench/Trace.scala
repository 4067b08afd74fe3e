package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * scale as the times Spark stamps on listener events.
  */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs(): Double = (System.nanoTime() + offsetNs) / 1e6
}

/** One timed interval. `parent` is 0 for a root span; spans of one
  * operation share `run`.
  */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Int, run: Int) {
  def durMs: Double = endMs - startMs
  def layer: String = name.takeWhile(_ != '.')
}

/** Records spans around the benchmark's calls into graft, in memory.
  * When disabled, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  var run = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = Clock.nowMs()
      try body
      finally {
        open = open.tail
        done += Span(id, name, t0, Clock.nowMs(), parent, run)
      }
    }

  /** Adds an interval measured elsewhere (a Spark job) under the
    * innermost span of `run` that contains its start.
    */
  def addLeaf(name: String, startMs: Double, endMs: Double, run: Int): Unit = {
    val host = done.filter(s => s.run == run && s.startMs <= startMs &&
      startMs <= s.endMs).sortBy(_.durMs).headOption
    done += Span(nextId, name, startMs, endMs, host.map(_.id).getOrElse(0), run)
    nextId += 1
  }

  def spans: Seq[Span] = done.toSeq
}

object Intervals {

  /** Total length covered by the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** `iv` cut to `[lo, hi]`; intervals outside it vanish. */
  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter(x => x._2 > x._1)

  /** A span's self time: its duration minus the part of it that its
    * child spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - unionLength(clip(cover, s.startMs, s.endMs)))
    }.toMap
  }
}

/** Counts what Spark did while attached. With `full = false` it only
  * follows block-manager storage (for the cache metric of untraced
  * runs); with `full = true` it also follows jobs, stages, tasks and SQL
  * executions. Events arrive on the listener bus thread; read only after
  * `BenchBridge.drain`.
  */
final class BenchListener(full: Boolean) extends SparkListener {
  private val live = mutable.Map.empty[String, Long]
  private var liveBytes = 0L
  var peakBytes = 0L

  val jobs = mutable.LinkedHashMap.empty[Int, (Double, Double)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  val shuffleWriteByJob = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  var stages, tasks, failedTasks, sqlExecutions, aqeReplans = 0L
  var runMs, cpuNs, waitMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, shuffleRows, spill = 0L

  override def onBlockUpdated(ev: SparkListenerBlockUpdated): Unit = synchronized {
    val info = ev.blockUpdatedInfo
    val id = info.blockId.name
    val bytes =
      if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    liveBytes += bytes - live.getOrElse(id, 0L)
    if (bytes == 0) live.remove(id) else live(id) = bytes
    peakBytes = math.max(peakBytes, liveBytes)
  }

  override def onJobStart(ev: SparkListenerJobStart): Unit = if (full) synchronized {
    jobs(ev.jobId) = (ev.time.toDouble, Double.NaN)
    ev.stageInfos.foreach(si => stageJob(si.stageId) = ev.jobId)
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = if (full) synchronized {
    jobs.get(ev.jobId).foreach(j => jobs(ev.jobId) = (j._1, ev.time.toDouble))
  }

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
    if (full) synchronized {
      val si = ev.stageInfo
      stageSubmit((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
    if (full) synchronized { stages += 1 }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = if (full) synchronized {
    tasks += 1
    if (ev.reason != Success) failedTasks += 1
    stageSubmit.get((ev.stageId, ev.stageAttemptId)).foreach { t =>
      waitMs += math.max(0L, ev.taskInfo.launchTime - t)
    }
    val tm = ev.taskMetrics
    if (tm != null) {
      runMs += tm.executorRunTime
      cpuNs += tm.executorCpuTime
      val w = tm.shuffleWriteMetrics
      shuffleWrite += w.bytesWritten
      shuffleRows += w.recordsWritten
      stageJob.get(ev.stageId).foreach(j => shuffleWriteByJob(j) += w.bytesWritten)
      shuffleRead += tm.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += tm.shuffleReadMetrics.fetchWaitTime
      spill += tm.diskBytesSpilled
    }
  }

  override def onOtherEvent(ev: SparkListenerEvent): Unit = if (full) synchronized {
    ev match {
      case _: SparkListenerSQLExecutionStart          => sqlExecutions += 1
      case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeReplans += 1
      case _                                          =>
    }
  }
}

/** Sums the query-planning phases Spark's tracker records per executed
  * query: analysis, optimization and physical planning.
  */
final class PlanningListener extends QueryExecutionListener {
  var analysisMs, optimizationMs, planningMs = 0L

  private def add(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

/** JVM-wide GC time, and the largest heap occupancy seen right after a
  * collection while [[watch]] is active.
  */
object Jvm {
  private val heapBeans = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val heapPools = heapBeans.map(_.getName).toSet
  @volatile private var peakLive = 0L
  private val onGc = new NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        peakLive = math.max(peakLive, used)
      }
  }
  private def emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs `body`, returning the peak post-GC heap bytes seen during it.
    * GC notifications arrive on their own thread and may lag, so the
    * heap left by the last collection is read directly as well.
    */
  def watch[T](body: => T): (T, Long) = {
    peakLive = 0L
    emitters.foreach(_.addNotificationListener(onGc, null, null))
    try {
      val r = body
      val afterLast = heapBeans.flatMap(b => Option(b.getCollectionUsage))
        .map(_.getUsed).sum
      (r, math.max(peakLive, afterLast))
    } finally emitters.foreach(_.removeNotificationListener(onGc))
  }
}

/** Host speed, measured with no Spark work running. */
object Host {

  /** The integer calibration `graft.Bench` records: 400M xorshift64
    * steps, timed on one thread and on `threads` threads at once.
    */
  def xorshiftSeconds(threads: Int): Double = {
    def once(): Unit = {
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 400000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42) System.err.println("") // keeps the loop live
    }
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(_ => new Thread(() => once()))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
