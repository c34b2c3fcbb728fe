package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The traced run's collectors. Jobs are attributed to a layer by their
  * job group (`<layer>:<span>`, set around each public call the benchmark
  * makes) or, for the streaming readers' own jobs, by the query id the
  * engine stamps on them. Everything stays in memory until the run ends.
  */
final class Trace(val sc: SparkContext) extends SparkListener {

  final class LayerStats {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var gcMs = 0L
    var bytesRead = 0L; var recordsRead = 0L
  }

  final case class JobSpan(layer: String, batchId: Long, start: Long, var end: Long = -1L)

  private val queryLayer = new ConcurrentHashMap[String, String]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val stats = mutable.Map.empty[String, LayerStats]
  val spans: mutable.Map[Int, JobSpan] = mutable.Map.empty

  /** Name the layer a streaming query's jobs belong to. */
  def registerQuery(id: java.util.UUID, layer: String): Unit = queryLayer.put(id.toString, layer)

  /** Run `body` with every job it starts tagged `<layer>:<span>`. */
  def tag[A](layer: String, span: String)(body: => A): A = {
    sc.setJobGroup(s"$layer:$span", layer, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  private def layerOf(props: java.util.Properties): Option[(String, Long)] = {
    if (props == null) return None
    val batch = Option(props.getProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)
    Option(props.getProperty("spark.jobGroup.id")).filter(_.contains(":"))
      .map(g => g.takeWhile(_ != ':') -> batch)
      .orElse(Option(props.getProperty("sql.streaming.queryId"))
        .flatMap(q => Option(queryLayer.get(q))).map(_ -> batch))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    layerOf(e.properties).foreach { case (layer, batch) =>
      e.stageIds.foreach(s => stageLayer.put(s, layer))
      stats.getOrElseUpdate(layer, new LayerStats).jobs += 1
      spans(e.jobId) = JobSpan(layer, batch, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    spans.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageLayer.get(e.stageId)).foreach { layer =>
      val s = stats.getOrElseUpdate(layer, new LayerStats)
      val m = e.taskMetrics
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
        s.bytesRead += m.inputMetrics.bytesRead
        s.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  def layer(name: String): LayerStats = synchronized(stats.getOrElseUpdate(name, new LayerStats))

  /** Driver time inside a reader's batches not covered by any of its jobs:
    * `addBatch` wall minus the union of the batch's job intervals, averaged
    * over batches.
    */
  def driverGapMs(layerName: String, addBatchMs: Map[Long, Long]): Double = synchronized {
    val byBatch = spans.values.filter(s => s.layer == layerName && s.end >= 0 && s.batchId >= 0)
      .groupBy(_.batchId)
    val gaps = addBatchMs.toSeq.collect { case (b, add) if byBatch.contains(b) =>
      val ivs = byBatch(b).map(s => (s.start, s.end)).toSeq.sorted
      var covered = 0L; var curS = ivs.head._1; var curE = ivs.head._2
      ivs.tail.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e } else curE = math.max(curE, e)
      }
      covered += curE - curS
      math.max(0L, add - covered).toDouble
    }
    if (gaps.isEmpty) 0.0 else gaps.sum / gaps.length
  }

  def jobsPerBatch(layerName: String): Double = synchronized {
    val b = spans.values.filter(s => s.layer == layerName && s.batchId >= 0).groupBy(_.batchId)
    if (b.isEmpty) 0.0 else b.values.map(_.size).sum.toDouble / b.size
  }
}

/** Collects every reader's `StreamingQueryProgress`. */
final class ProgressLog extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[java.util.UUID, java.util.Vector[StreamingQueryProgress]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    byQuery.computeIfAbsent(e.progress.id, _ => new java.util.Vector()).add(e.progress)

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    Option(byQuery.get(id)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Block until the bus has delivered `id`'s progress for `batchId`. */
  def await(id: java.util.UUID, batchId: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline && !of(id).exists(_.batchId >= batchId))
      Thread.sleep(20)
  }
}
