package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Outside-in layer trace: the benchmark, not the program, names the
  * layers. Each layer call runs under a Spark job group of the layer's
  * name and ends on a forced boundary chosen by the caller (persist +
  * count, or a write), so every job it triggers lands in that layer.
  * Jobs started from pool threads that did not inherit the job group
  * (the futures inside `ActiveLearning.process`) are attributed to the
  * layer most recently entered; layers are never nested or run
  * concurrently. */
final class LayerTrace(spark: SparkSession) extends SparkListener {

  final class Layer {
    var wallS = 0.0
    var gcS = 0.0
    var jobs = 0
    var tasks = 0
    val jobMs = mutable.ArrayBuffer.empty[Double]
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var bytesWritten = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    /** max / median task time of the layer's heaviest stage. */
    def taskSkew: Double =
      if (stageTaskMs.isEmpty) 1.0
      else {
        val ts = stageTaskMs.values.maxBy(_.sum).sorted
        math.max(ts.last.toDouble, 1.0) / math.max(Stats.median(ts.map(_.toDouble).toSeq), 1.0)
      }
  }

  private val layers = mutable.LinkedHashMap.empty[String, Layer]
  private val active = mutable.ArrayBuffer.empty[String]
  private val jobLayer = mutable.Map.empty[Int, (String, Long)]
  private val stageLayer = mutable.Map.empty[Int, String]

  spark.sparkContext.addSparkListener(this)

  def layer(name: String): Layer = synchronized(layers.getOrElseUpdate(name, new Layer))

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Run `body` as layer `name`; wall and JVM GC time accrue to it. */
  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    layer(name)
    sc.setJobGroup(name, name)
    synchronized(active += name)
    val gc0 = gcMs
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      sc.clearJobGroup()
      synchronized(active -= name)
      val l = layer(name)
      l.wallS += wall
      l.gcS += gc
    }
  }

  /** Wait for the listener bus so task metrics of finished jobs are in. */
  def settle(): Unit = BenchBus.drain(spark.sparkContext)

  def detach(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(this)
  }

  def selfTimeS: Double = synchronized(layers.values.map(_.wallS).sum)

  private def layerOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(layers.contains).orElse(active.lastOption)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    layerOf(e.properties).foreach { name =>
      jobLayer(e.jobId) = (name, e.time)
      e.stageIds.foreach(stageLayer(_) = name)
      layer(name).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobLayer.remove(e.jobId).foreach { case (name, t0) =>
      layer(name).jobMs += (e.time - t0).toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (name <- stageLayer.get(e.stageId); m <- Option(e.taskMetrics)) {
      val l = layer(name)
      l.tasks += 1
      l.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      l.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      l.bytesWritten += m.outputMetrics.bytesWritten
      l.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }
}
