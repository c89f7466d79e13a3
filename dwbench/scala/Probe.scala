package org.apache.spark.dwbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters from the session's own listener bus. Lives in the
  * `org.apache.spark` namespace only to reach `waitUntilEmpty`: listener
  * events arrive asynchronously, so a counter snapshot first waits until
  * every event posted so far has been delivered. */
final class Counters(sc: SparkContext) extends SparkListener {
  private val c = Array.fill(Counters.Names.size)(new AtomicLong)
  private def add(i: Int, v: Long): Unit = c(i).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add(0, 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(1, 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(2, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(3, m.inputMetrics.recordsRead)
      add(4, m.shuffleWriteMetrics.bytesWritten)
      add(5, m.shuffleReadMetrics.totalBytesRead)
      add(6, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(7, m.outputMetrics.bytesWritten)
      add(8, m.executorRunTime)
      add(9, m.executorCpuTime / 1000000L)
    }
  }

  /** Counter values once every event posted so far is delivered, plus
    * the JVM's total garbage-collection time. */
  def snapshot(): Array[Long] = {
    sc.listenerBus.waitUntilEmpty()
    c.map(_.get) :+ Counters.jvmGcMs()
  }
}

object Counters {
  /** Snapshot layout; the last entry is JVM GC time. Byte counters are
    * bytes here and MB in the report. */
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "input_rows",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "output_bytes",
    "task_run_ms", "task_cpu_ms")
  val AllNames: Seq[String] = Names :+ "gc_ms"

  def jvmGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def install(sc: SparkContext): Counters = {
    val l = new Counters(sc)
    sc.addSparkListener(l)
    l
  }
}
