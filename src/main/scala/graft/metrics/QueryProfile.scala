package graft.metrics

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.GraftBridge

/** What Spark ran inside one window: jobs, stages and tasks, and the
  * executor-side bytes of the stages that completed (input read, shuffle
  * write and read, disk spill), plus the driver JVM's GC milliseconds and
  * allocated bytes over the window. It is a plain `SparkListener`, so it can
  * be attached by hand; [[QueryProfile.run]] attaches it around one body.
  * Only the listener bus thread writes the counters; read them after the
  * bus is drained, as `run` does.
  */
final class QueryProfile extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var inputBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var gcMs = 0L
  @volatile var allocatedBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    stages += 1
    tasks += e.stageInfo.numTasks
    inputBytes += m.inputMetrics.bytesRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    spillBytes += m.diskBytesSpilled
  }
}

object QueryProfile {

  /** Runs `body` under a fresh profile: drain the listener bus (so no job
    * from before the window is counted), attach, run, drain, detach. The
    * listener is detached even when `body` throws, and the throw goes on.
    */
  def run[A](spark: SparkSession)(body: => A): (A, QueryProfile) = {
    val sc = spark.sparkContext
    val p = new QueryProfile
    GraftBridge.drainListenerBus(sc)
    val gc0 = gcSnapshot()._2
    val alloc0 = allocatedBytes()
    sc.addSparkListener(p)
    try {
      val a = body
      p.gcMs = gcSnapshot()._2 - gc0
      p.allocatedBytes = allocatedBytes() - alloc0
      (a, p)
    } finally {
      GraftBridge.drainListenerBus(sc)
      sc.removeSparkListener(p)
    }
  }

  /** (collection count, collection ms) summed over the JVM's collectors. */
  def gcSnapshot(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  /** Total allocated bytes across live threads (approximation: threads that
    * die mid-window under-count, threads born mid-window count from zero).
    */
  def allocatedBytes(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean match {
      case tm: com.sun.management.ThreadMXBean =>
        tm.getThreadAllocatedBytes(tm.getAllThreadIds).filter(_ > 0).sum
      case _ => 0L
    }
}
