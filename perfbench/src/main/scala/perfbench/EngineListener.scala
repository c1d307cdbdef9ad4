package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark engine counters over the traced loop (registered in traced
  * runs only, so untraced timings never pay for it). */
final class EngineListener(spark: SparkSession) extends SparkListener {
  private val t0 = System.nanoTime()
  @volatile private var wallNs = 0L
  private val lock = new Object
  var jobs = 0L
  val taskMs = ArrayBuffer.empty[(Int, Long)] // (stage, duration ms)
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    taskMs += ((e.stageId, e.taskInfo.duration))
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def stop(): Unit = {
    wallNs = System.nanoTime() - t0
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Median over stages (with at least two tasks) of max ÷ median task
    * time; 1.0 means perfectly even stages. */
  def taskSkew: Double = lock.synchronized {
    val ratios = taskMs.groupBy(_._1).values.map(_.map(_._2.toDouble)).filter(_.length >= 2)
      .map(d => d.max / math.max(1.0, Stats.median(d.toSeq))).toSeq
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }

  def busyRatio(cores: Int): Double = runMs / (wallNs / 1e6 * cores)
  def tasks: Long = lock.synchronized(taskMs.length.toLong)
}

object EngineListener {
  def register(spark: SparkSession): EngineListener = {
    val l = new EngineListener(spark)
    spark.sparkContext.addSparkListener(l)
    l
  }
}
