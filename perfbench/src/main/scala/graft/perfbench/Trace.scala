package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** One traced interval, in epoch milliseconds. Spans of one operation share
  * `op`; `parent` is the id of the enclosing span (-1 for an operation). */
final case class Span(id: Int, parent: Int, op: String, kind: String,
    name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Task totals of one Spark stage, folded from task-end events. */
final class StageAgg(val stageId: Int, val jobId: Int, val group: String) {
  var startMs = 0.0
  var endMs = 0.0
  val taskRunMs = ArrayBuffer[Double]()
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  def taskS: Double = taskRunMs.sum / 1000.0
}

/** SparkListener registered by the benchmark (not by the program): folds
  * per-stage task metrics and keeps job/stage intervals, keyed by the job
  * group the benchmark sets to the operation id. */
final class StageListener extends SparkListener {
  private val jobGroup = scala.collection.mutable.HashMap[Int, String]()
  private val jobOfStage = scala.collection.mutable.HashMap[Int, Int]()
  val jobs = ArrayBuffer[(Int, String, Double, Double)]() // id, group, start, end
  private val jobStart = scala.collection.mutable.HashMap[Int, Double]()
  val stages = scala.collection.mutable.LinkedHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((e.jobId, jobGroup.getOrElse(e.jobId, ""),
      jobStart.getOrElse(e.jobId, e.time.toDouble), e.time.toDouble))
  }

  private def agg(stageId: Int): StageAgg = stages.getOrElseUpdate(stageId, {
    val j = jobOfStage.getOrElse(stageId, -1)
    new StageAgg(stageId, j, jobGroup.getOrElse(j, ""))
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = agg(e.stageInfo.stageId)
    a.startMs = e.stageInfo.submissionTime.getOrElse(0L).toDouble
    a.endMs = e.stageInfo.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(e.stageId)
      a.taskRunMs += m.executorRunTime.toDouble
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }

  def stagesOf(group: String): Vector[StageAgg] = synchronized {
    stages.values.filter(_.group == group).toVector
  }

  def jobsOf(group: String): Vector[(Int, String, Double, Double)] = synchronized {
    jobs.filter(_._2 == group).toVector
  }
}

/** In-memory span store. Operation and phase spans come from the
  * benchmark's own timers and `ResumableRun.onPhase`; job and stage spans
  * are attached from the listener once an operation has ended. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble

  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def add(parent: Int, op: String, kind: String, name: String,
      startMs: Double, endMs: Double): Int = synchronized {
    val id = spans.size
    spans += Span(id, parent, op, kind, name, startMs, endMs)
    id
  }

  /** Attach the operation's Spark jobs (under the innermost phase span that
    * contains their start) and their stages (under the job). */
  def attachSpark(opSpan: Span, l: StageListener): Unit = {
    val phases = spans.filter(s => s.parent == opSpan.id && s.kind == "phase").toVector
    val jobIds = l.jobsOf(opSpan.op).map { case (jid, _, st, en) =>
      val parent = phases.find(p => p.startMs <= st + 1 && st <= p.endMs + 1)
        .map(_.id).getOrElse(opSpan.id)
      jid -> add(parent, opSpan.op, "job", s"job-$jid", st, en)
    }.toMap
    l.stagesOf(opSpan.op).foreach { s =>
      jobIds.get(s.jobId).foreach(p =>
        add(p, opSpan.op, "stage", s"stage-${s.stageId}", s.startMs, s.endMs))
    }
  }

  def children(id: Int): Vector[Span] = spans.filter(_.parent == id).toVector

  /** Span duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val iv = children(s.id).map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    s.ms - covered
  }

  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}","kind":"${s.kind}",""" +
      f""""name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,""" +
      f""""self_ms":${selfMs(s)}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
