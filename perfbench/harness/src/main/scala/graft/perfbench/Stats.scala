package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters the benchmark reads from a listener it installs
  * itself. Values are cumulative; callers take deltas between
  * snapshots. Times are reported in seconds, sizes in bytes. */
final class Stats extends SparkListener {
  private val c = scala.collection.mutable.LinkedHashMap[String, Double](
    Stats.Keys.map(_ -> 0.0): _*)
  // (launch, finish) wall-clock milliseconds of every finished task
  private val taskSpans = ArrayBuffer[(Long, Long)]()

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(add("spark.jobs", 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add("spark.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    if (e.taskInfo != null)
      taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      add("spark.cpu_s", m.executorCpuTime / 1e9)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spark.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.records_read", m.inputMetrics.recordsRead)
      add("spark.bytes_read", m.inputMetrics.bytesRead)
    }
  }

  def snap(): Map[String, Double] = synchronized(c.toMap)

  /** Seconds of [from, to] (epoch ms) during which no task ran. */
  def idleSeconds(from: Long, to: Long): Double = synchronized {
    val iv = taskSpans.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy = 0L
    var end = from
    iv.foreach { case (a, b) =>
      if (b > end) { busy += b - math.max(a, end); end = b }
    }
    taskSpans.filterInPlace(_._2 >= from)
    math.max(0L, (to - from) - busy) / 1e3
  }
}

object Stats {
  val Keys: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.cpu_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.fetch_wait_s", "spark.spill_bytes", "spark.gc_s",
    "spark.records_read", "spark.bytes_read")

  def install(spark: SparkSession): Stats = {
    val s = new Stats
    spark.sparkContext.addSparkListener(s)
    s
  }

  def drain(spark: SparkSession): Unit =
    PerfbenchBus.drain(spark.sparkContext)

  def delta(a: Map[String, Double], b: Map[String, Double])
      : Map[String, Double] = b.map { case (k, v) => k -> (v - a(k)) }
}
