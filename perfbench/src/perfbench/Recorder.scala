package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span: one timed interval with the span that caused it. Times are
  * epoch milliseconds, the clock Spark's scheduler events carry.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Engine counts gathered while one benchmark call span was open. */
final class CallCounts {
  var jobs = 0
  var stages = 0
  var exchanges = 0
  var exchangeBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var cachedBytes = 0L
  val taskMsByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWallMs = mutable.HashMap.empty[Int, Long]

  /** max / median task time in the stage with the longest wall time. */
  def taskSkew: Double =
    if (stageWallMs.isEmpty) 1.0
    else {
      val longest = stageWallMs.maxBy(_._2)._1
      val ts = taskMsByStage.getOrElse(longest, mutable.ArrayBuffer(1L)).sorted
      val med = math.max(1L, ts(ts.length / 2))
      ts.last.toDouble / med
    }
}

/** Benchmark-side recorder: the benchmark opens a call span around each
  * call into the engine; Spark jobs submitted inside it become its child
  * spans (they carry the call id as a job property) and their stages become
  * the jobs' children. Counts are gathered per call. Everything stays in
  * memory until [[spans]] is read.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val all = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.HashMap.empty[Int, (Int, Int, String, Double)] // key -> (id, parent, name, start)
  private var nextId = 0
  private val counts = mutable.HashMap.empty[Int, CallCounts]
  private val callOfJob = mutable.HashMap.empty[Int, Int]
  private val jobOfStage = mutable.HashMap.empty[Int, Int]
  @volatile private var current = -1 // open call: block updates carry no job
  private var started = 0
  private var ended = 0
  @volatile private var lastEventNs = System.nanoTime()
  private val cachedBlocks = mutable.HashSet.empty[String]

  private def touch(): Unit = lastEventNs = System.nanoTime()

  /** Opens a call span; jobs this thread submits until [[end]] belong to it. */
  def begin(name: String): Int = {
    quiesce()
    synchronized {
      val id = nextId; nextId += 1
      counts.put(id, new CallCounts)
      open.put(-1 - id, (id, -1, name, System.currentTimeMillis().toDouble))
      current = id
      sc.setLocalProperty(Recorder.CallProperty, id.toString)
      id
    }
  }

  /** Closes the call span, then waits for its events and returns its counts. */
  def end(id: Int): (Span, CallCounts) = {
    val span = synchronized {
      sc.setLocalProperty(Recorder.CallProperty, null)
      closeSpan(-1 - id, System.currentTimeMillis().toDouble).get
    }
    quiesce()
    current = -1
    (span, synchronized(counts(id)))
  }

  /** Waits until every job the listener saw has ended and the event bus
    * has been quiet for a moment, so a call's counts are complete.
    */
  def quiesce(): Unit = {
    val until = System.nanoTime() + 5000000000L
    while (System.nanoTime() < until &&
      (synchronized(started != ended) || System.nanoTime() - lastEventNs < 100000000L))
      Thread.sleep(10)
  }

  def spans: Seq[Span] = synchronized(all.toList)

  /** Share of the call spans' wall time that no child job span covers. */
  def unattributed(calls: Seq[Span]): Double = synchronized {
    val byParent = all.groupBy(_.parent)
    var total, uncovered = 0.0
    calls.foreach { c =>
      val kids = byParent.getOrElse(c.id, Nil)
        .map(k => (math.max(k.startMs, c.startMs), math.min(k.endMs, c.endMs)))
        .filter(k => k._2 > k._1).sortBy(_._1)
      var covered = 0.0
      var curS, curE = Double.NaN
      kids.foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (!curE.isNaN) covered += curE - curS
      total += c.durMs
      uncovered += c.durMs - covered
    }
    if (total <= 0) 0.0 else uncovered / total
  }

  private def openSpan(key: Int, parent: Int, name: String, startMs: Double): Unit = {
    val id = nextId; nextId += 1
    open.put(key, (id, parent, name, startMs))
  }

  private def closeSpan(key: Int, endMs: Double): Option[Span] =
    open.remove(key).map { case (id, parent, name, start) =>
      val s = Span(id, parent, name, start, endMs)
      all += s
      s
    }

  private def jobKey(jobId: Int) = 1 + 2 * jobId
  private def stageKey(stageId: Int) = 2 + 2 * stageId

  private def callOfStage(stageId: Int): Option[CallCounts] =
    jobOfStage.get(stageId).flatMap(callOfJob.get).flatMap(counts.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    started += 1
    val call = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.CallProperty)))
      .map(_.toInt)
    openSpan(jobKey(e.jobId), call.getOrElse(-1), s"job ${e.jobId}", e.time.toDouble)
    e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
    call.foreach { id =>
      callOfJob.put(e.jobId, id)
      counts.get(id).foreach(_.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    ended += 1
    closeSpan(jobKey(e.jobId), e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    val info = e.stageInfo
    val parent = jobOfStage.get(info.stageId).flatMap(j => open.get(jobKey(j)).map(_._1))
      .getOrElse(-1)
    openSpan(stageKey(info.stageId), parent, s"stage ${info.stageId}: ${info.name}",
      info.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val info = e.stageInfo
    val span = closeSpan(stageKey(info.stageId),
      info.completionTime.getOrElse(System.currentTimeMillis()).toDouble)
    callOfStage(info.stageId).foreach { c =>
      c.stages += 1
      span.foreach(s => c.stageWallMs.put(info.stageId, s.durMs.toLong))
      val m = info.taskMetrics
      if (m != null) {
        val w = m.shuffleWriteMetrics
        if (w.recordsWritten > 0) {
          c.exchanges += 1
          c.exchangeBytes += w.bytesWritten
        }
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    if (e.taskInfo != null) callOfStage(e.stageId).foreach { c =>
      c.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    touch()
    val b = e.blockUpdatedInfo
    if (current >= 0 && b.blockId.isRDD && b.storageLevel.isValid &&
      cachedBlocks.add(b.blockId.name)) counts(current).cachedBytes += b.memSize + b.diskSize
  }
}

object Recorder {
  final val CallProperty = "perfbench.call"
}
