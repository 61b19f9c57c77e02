package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One finished task, reduced to the fields the engine metrics use. */
final case class TaskSample(launchMs: Long, finishMs: Long, cpuNs: Long,
    shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, inputRows: Long,
    inputB: Long, outputB: Long)

/** Engine counters of one operation (a query or one pipeline call). */
final case class OpTrace(name: String, wallS: Double, jobs: Long,
    stages: Long, tasks: Vector[TaskSample], gcS: Double,
    driverOnlyS: Double, persistedLeft: Int)

/** Counts jobs, stages and tasks while it is registered. The benchmark is a
  * closed loop with one client, so everything seen between two `take`s
  * belongs to the one operation that ran in between. */
final class EngineListener extends SparkListener {
  private var jobs = 0L
  private var stages = 0L
  private val tasks = ArrayBuffer.empty[TaskSample]

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    tasks += (if (m == null) TaskSample(i.launchTime, i.finishTime, 0, 0, 0,
        0, 0, 0, 0)
      else TaskSample(i.launchTime, i.finishTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead,
        m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  /** Returns and clears what was seen since the last call. */
  def take(): (Long, Long, Vector[TaskSample]) = synchronized {
    val out = (jobs, stages, tasks.toVector)
    jobs = 0; stages = 0; tasks.clear()
    out
  }
}

/** Times operations with the engine listener registered. Created for a
  * traced unit of work and closed after it, so untraced units run with no
  * listener at all. */
final class Tracer(spark: SparkSession) extends AutoCloseable {
  private val sc = spark.sparkContext
  private val listener = new EngineListener
  sc.addSparkListener(listener)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def op[A](name: String)(body: => A): (A, OpTrace) = {
    PerfbenchBus.drain(sc)
    listener.take()
    val gc0 = gcMs()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = body
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    PerfbenchBus.drain(sc)
    val gcS = (gcMs() - gc0) / 1e3
    val (jobs, stages, tasks) = listener.take()
    val busyS = Tracer.unionMs(tasks.map(t =>
      (math.max(t.launchMs, startMs), math.min(t.finishMs, endMs)))) / 1e3
    (a, OpTrace(name, wallS, jobs, stages, tasks, gcS,
      math.max(0.0, wallS - busyS), sc.getPersistentRDDs.size))
  }

  override def close(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }
}

object Tracer {
  /** Length of the union of [start, end) intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  private val MB = 1024.0 * 1024.0

  /** The `spark.*` per-layer metrics of one unit of work (a pass over the
    * query list, or one pipeline call). */
  def engineMetrics(ops: Seq[OpTrace], cores: Int): Map[String, Double] = {
    val tasks = ops.flatMap(_.tasks)
    val wallS = ops.map(_.wallS).sum
    val taskMs = tasks.map(t => math.max(0L, t.finishMs - t.launchMs)).sorted
    def mb(f: TaskSample => Long) = tasks.map(f).sum / MB
    Map(
      "spark.jobs" -> ops.map(_.jobs).sum.toDouble,
      "spark.stages" -> ops.map(_.stages).sum.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.driver_only_s" -> ops.map(_.driverOnlyS).sum,
      "spark.busy_ratio" ->
        (if (wallS > 0) taskMs.sum / 1e3 / (wallS * cores) else 0.0),
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ops.map(_.gcS).sum,
      "spark.shuffle_write_mb" -> mb(_.shuffleWriteB),
      "spark.shuffle_read_mb" -> mb(_.shuffleReadB),
      "spark.spill_mb" -> mb(_.spillB),
      "spark.input_rows" -> tasks.map(_.inputRows).sum.toDouble,
      "spark.input_mb" -> mb(_.inputB),
      "spark.output_mb" -> mb(_.outputB),
      "spark.task_p50_ms" ->
        (if (taskMs.isEmpty) 0.0 else taskMs(taskMs.size / 2).toDouble),
      "spark.task_max_ms" -> taskMs.lastOption.getOrElse(0L).toDouble,
      "spark.persisted_rdds_left" ->
        ops.map(_.persistedLeft).maxOption.getOrElse(0).toDouble)
  }
}
