package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: a timed call into one layer of the program. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side totals of one workload phase, gathered by [[PhaseListener]]. */
final class PhaseStats {
  var jobs = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var recordsRead = 0L
  /** Task durations (ms) by stage id. */
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
  /** (start, end) epoch millis of each job of the phase. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** SparkListener attached by the benchmark. Each job is attributed to the
  * phase named in the `perfbench.phase` local property of the thread that
  * submitted it; tasks follow their stage's job. Listener events arrive
  * asynchronously, so readers call [[Trace.drain]] first.
  */
final class PhaseListener extends SparkListener {
  val PhaseProp = "perfbench.phase"
  private val stagePhase = mutable.Map.empty[Int, String]
  private val jobPhase = mutable.Map.empty[Int, (String, Long)]
  val phases: mutable.Map[String, PhaseStats] = mutable.Map.empty

  private def stats(p: String) = phases.getOrElseUpdate(p, new PhaseStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(pr => Option(pr.getProperty(PhaseProp))).getOrElse("other")
    jobPhase(e.jobId) = (p, e.time)
    e.stageIds.foreach(s => stagePhase(s) = p)
    stats(p).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobPhase.remove(e.jobId).foreach { case (p, t0) => stats(p).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(stagePhase.getOrElse(e.stageId, "other"))
      s.tasks += 1
      s.executorCpuNs += m.executorCpuTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
      s.recordsRead += m.inputMetrics.recordsRead
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }
}

/** The benchmark's own tracer: spans recorded around calls into the
  * program's public functions, plus the listener above. Everything is held
  * in memory and written out once, when the run ends. When disabled, `span`
  * only runs its body, so an untraced pass pays nothing but a branch.
  */
final class Trace(sc: SparkContext) {
  val listener = new PhaseListener
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var enabled = false
  private var nextId = 0
  private var stack: List[Int] = Nil

  def on: Boolean = enabled

  def enable(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }

  def disable(): Unit = if (enabled) { Trace.drain(sc); sc.removeSparkListener(listener); enabled = false }

  /** Time `body` as span `name` (a child of the innermost open span). */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Jobs submitted inside `body` count toward `phase`. */
  def phase[A](phase: String)(body: => A): A = {
    val prev = sc.getLocalProperty(listener.PhaseProp)
    sc.setLocalProperty(listener.PhaseProp, phase)
    try span(phase)(body)
    finally sc.setLocalProperty(listener.PhaseProp, prev)
  }

  /** Seconds of spans named `name`, one value per span. */
  def seconds(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.seconds).toSeq

  def phaseStats(p: String): PhaseStats = { Trace.drain(sc); listener.phases.getOrElse(p, new PhaseStats) }

  /** Driver gap of a phase: its span time not covered by any of its jobs. */
  def driverGapSeconds(p: String): Double = {
    val st = phaseStats(p)
    val jobsMs = Trace.unionMs(st.jobIntervals.toSeq)
    math.max(0.0, seconds(p).sum - jobsMs / 1e3)
  }

  def toJson: String = Json.of(spans.map(s => mutable.LinkedHashMap(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

object Trace {
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Partition skew of a phase: over its stages of at least `minTasks`
    * tasks, the largest ratio of a stage's slowest task to its median task.
    * 0 when no stage has that many tasks.
    */
  def taskSkew(st: PhaseStats, minTasks: Int): Double = {
    val ratios = st.stageTaskMs.values.filter(_.length >= minTasks).map { ms =>
      ms.max.toDouble / math.max(1.0, Stats.median(ms.map(_.toDouble).toSeq))
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }

  /** Bytes held by cached or checkpointed RDD blocks right now. */
  def storageBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
