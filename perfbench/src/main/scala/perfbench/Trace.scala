package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span and counter bookkeeping for one run, kept in memory and written
  * out once at exit. A span is a timed call into one layer, recorded from
  * the harness side; counters are added at the same boundaries. Spark
  * jobs are attributed to the span that started them through a local
  * property set on the calling thread, so a job started while a query
  * builds its DataFrame counts as build work, not execution. */
final class Trace {
  private val spans = mutable.LinkedHashMap.empty[String, (Long, Long)] // name -> (n, ns)
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  def span[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally addSpan(name, System.nanoTime() - t0)
  }
  def addSpan(name: String, ns: Long): Unit = synchronized {
    val (n, t) = spans.getOrElse(name, (0L, 0L))
    spans(name) = (n + 1, t + ns)
  }
  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }
  def seconds(name: String): Double = synchronized(spans.get(name).map(_._2 / 1e9).getOrElse(0.0))
  def count(name: String): Double = synchronized(counters.getOrElse(name, 0.0))
}

/** Job, stage and task accounting per layer. `layer` is the value of
  * [[JobListener.LayerProp]] on the thread that submitted the job. */
final class JobListener extends SparkListener {
  import JobListener._

  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskRunMs = 0L; var taskCpuNs = 0L; var taskGcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
    var jobMs = 0L
    var sourceJobs = 0L; var sourceJobMs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byLayer = new ConcurrentHashMap[String, Acc]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long, Boolean)]()

  private def acc(layer: String): Acc = byLayer.computeIfAbsent(layer, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerProp))).getOrElse("other")
    e.stageIds.foreach(s => stageLayer.put(s, layer))
    // The call site of the job's first stage names the code that
    // submitted it; a source-table load (schema inference, footer
    // reads) shows graft.sources.Tables in that stack.
    val fromSources = e.stageInfos.exists(_.details.contains("graft.sources.Tables"))
    jobInfo.put(e.jobId, (layer, e.time, fromSources))
    val a = acc(layer)
    a.synchronized { a.jobs += 1; if (fromSources) a.sourceJobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (layer, start, fromSources) =>
      val a = acc(layer)
      a.synchronized {
        a.jobMs += e.time - start
        a.intervals += ((start, e.time))
        if (fromSources) a.sourceJobMs += e.time - start
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageLayer.getOrDefault(e.stageInfo.stageId, "other"))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageLayer.getOrDefault(e.stageId, "other"))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.taskGcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Layer keys seen so far (`phase|query` for suite spans). */
  def keys: Seq[String] = { import scala.jdk.CollectionConverters._; byLayer.keySet.asScala.toSeq.sorted }

  def layer(name: String): Acc = acc(name)

  /** Sum of one field over every layer key whose phase is `phase`. */
  def total(phase: String)(f: Acc => Long): Long =
    keys.filter(k => k == phase || k.startsWith(phase + "|")).map { k =>
      val a = acc(k); a.synchronized(f(a)) }.sum

  /** Wall time covered by the layer's jobs, overlapping jobs counted once. */
  def jobUnionMs(name: String): Long = {
    val a = acc(name)
    a.synchronized {
      val sorted = a.intervals.sortBy(_._1)
      var total = 0L; var curS = -1L; var curE = -1L
      sorted.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
  }

  def reset(): Unit = { byLayer.clear(); stageLayer.clear(); jobInfo.clear() }
}

object JobListener {
  val LayerProp = "perfbench.layer"
  /** Layer of the untimed fixture reset between passes. */
  val Reset = "reset"

  /** Run `body` with jobs it submits attributed to `layer`. */
  def inLayer[A](sc: SparkContext, layer: String)(body: => A): A = {
    val prev = sc.getLocalProperty(LayerProp)
    sc.setLocalProperty(LayerProp, layer)
    try body finally sc.setLocalProperty(LayerProp, prev)
  }
}
