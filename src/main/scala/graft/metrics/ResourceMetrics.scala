package graft.metrics

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Point-in-time totals of cluster-resource usage, accumulated across all
  * completed stages since a [[ResourceListener]] was attached. All byte
  * counts are summed over tasks; `peakStageShuffleWriteBytes` is the
  * largest single-stage shuffle write seen since the last
  * [[ResourceListener.resetPeak]].
  */
final case class ResourceSnapshot(
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    memorySpillBytes: Long,
    diskSpillBytes: Long,
    inputBytes: Long,
    outputBytes: Long,
    executorRunMs: Long,
    executorCpuMs: Long,
    jvmGcMs: Long,
    peakStageShuffleWriteBytes: Long,
    inputRecords: Long = 0L,
    shuffleRecords: Long = 0L) {

  /** Delta between two snapshots of the SAME listener (peak is carried
    * from `this`, it is not delta-able).
    */
  def -(o: ResourceSnapshot): ResourceSnapshot = ResourceSnapshot(
    shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes,
    memorySpillBytes - o.memorySpillBytes,
    diskSpillBytes - o.diskSpillBytes,
    inputBytes - o.inputBytes,
    outputBytes - o.outputBytes,
    executorRunMs - o.executorRunMs,
    executorCpuMs - o.executorCpuMs,
    jvmGcMs - o.jvmGcMs,
    peakStageShuffleWriteBytes,
    inputRecords - o.inputRecords,
    shuffleRecords - o.shuffleRecords)

  /** `metric,value` CSV — the analogue of the reference's per-node
    * monitoring CSVs (PerformanceMonitor.java:83-135), with totals
    * instead of sampled peaks (single-JVM local mode has no per-node
    * sampler; the stage-peak column is the burst-shape signal).
    */
  def toCsv: String =
    "Metric,Value\n" +
      s"Shuffle_Read_bytes,$shuffleReadBytes\n" +
      s"Shuffle_Write_bytes,$shuffleWriteBytes\n" +
      s"Memory_Spill_bytes,$memorySpillBytes\n" +
      s"Disk_Spill_bytes,$diskSpillBytes\n" +
      s"Input_bytes,$inputBytes\n" +
      s"Output_bytes,$outputBytes\n" +
      s"Executor_Run_ms,$executorRunMs\n" +
      s"Executor_Cpu_ms,$executorCpuMs\n" +
      s"Jvm_Gc_ms,$jvmGcMs\n" +
      s"Peak_Stage_Shuffle_Write_bytes,$peakStageShuffleWriteBytes\n"
}

/** Stage-granularity resource accounting via the public listener API —
  * the piece of the reference's telemetry (O22: disk/network per-phase
  * CSVs, PerformanceMonitor.java:83-135) that pure wall-clock timing
  * misses. Shuffle and spill bytes are THE scale signals: they are what
  * actually grows when a plan that works at sf0.1 meets 100 TB.
  *
  * Listener events are delivered asynchronously after an action returns;
  * call [[quiesce]] before reading a snapshot that must include a
  * just-finished job.
  */
final class ResourceListener extends SparkListener {
  private val updates = new AtomicLong(0)
  private val shuffleRead = new AtomicLong(0)
  private val shuffleWrite = new AtomicLong(0)
  private val memSpill = new AtomicLong(0)
  private val diskSpill = new AtomicLong(0)
  private val input = new AtomicLong(0)
  private val output = new AtomicLong(0)
  private val runMs = new AtomicLong(0)
  private val cpuMs = new AtomicLong(0)
  private val gcMs = new AtomicLong(0)
  private val peakStageShuffleWrite = new AtomicLong(0)
  private val inputRecs = new AtomicLong(0)
  private val shuffleRecs = new AtomicLong(0)

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val tm = ev.stageInfo.taskMetrics
    if (tm != null) {
      shuffleRead.addAndGet(tm.shuffleReadMetrics.totalBytesRead)
      val w = tm.shuffleWriteMetrics.bytesWritten
      shuffleWrite.addAndGet(w)
      memSpill.addAndGet(tm.memoryBytesSpilled)
      diskSpill.addAndGet(tm.diskBytesSpilled)
      input.addAndGet(tm.inputMetrics.bytesRead)
      output.addAndGet(tm.outputMetrics.bytesWritten)
      runMs.addAndGet(tm.executorRunTime)
      cpuMs.addAndGet(tm.executorCpuTime / 1000000L) // reported in ns
      gcMs.addAndGet(tm.jvmGCTime)
      peakStageShuffleWrite.updateAndGet(p => math.max(p, w))
      inputRecs.addAndGet(tm.inputMetrics.recordsRead)
      shuffleRecs.addAndGet(tm.shuffleWriteMetrics.recordsWritten)
    }
    updates.incrementAndGet()
    ()
  }

  def snapshot: ResourceSnapshot = ResourceSnapshot(
    shuffleRead.get(), shuffleWrite.get(), memSpill.get(), diskSpill.get(),
    input.get(), output.get(), runMs.get(), cpuMs.get(), gcMs.get(),
    peakStageShuffleWriteBytes = peakStageShuffleWrite.get(),
    inputRecords = inputRecs.get(), shuffleRecords = shuffleRecs.get())

  def resetPeak(): Unit = peakStageShuffleWrite.set(0)

  /** Block until no stage-completed event has arrived for `stableMs`
    * (capped at `maxWaitMs`) — makes a following [[snapshot]] include
    * the jobs of any action that has already returned.
    */
  def quiesce(stableMs: Long = 50, maxWaitMs: Long = 2000): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var last = updates.get()
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
      System.nanoTime() - stableSince < stableMs * 1000000L) {
      Thread.sleep(5)
      val cur = updates.get()
      if (cur != last) { last = cur; stableSince = System.nanoTime() }
    }
  }
}

object ResourceMetrics {
  /** Attach a fresh listener to the context. Not removed on purpose for
    * mains (CLI/Bench) — remove with `sc.removeSparkListener` when
    * embedding.
    */
  def attach(sc: SparkContext): ResourceListener = {
    val l = new ResourceListener
    sc.addSparkListener(l)
    l
  }
}
