package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** A span: a named interval on the epoch-millisecond clock Spark's listener
  * events use. `op` groups the spans of one timed operation.
  */
case class Span(name: String, op: Int, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark-side work of one job group (= one traced op), summed over its
  * tasks.
  */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var inputBytes, inputRecords, shuffleReadBytes, shuffleWriteBytes = 0L
  var shuffleRecords, spillBytes, cpuNs, outputBytes = 0L
  var schedWaitMs = 0L
  /** Max ÷ median task time of the group's last stage (highest stage id). */
  var lastStage = -1
  var lastStageSkew = 0.0
}

/** Records Spark jobs, stages and task metrics per job group, from the public
  * listener API. The benchmark sets one job group per traced op; the engine
  * sets none of its own.
  */
final class GroupListener extends SparkListener {
  private case class StageRec(group: String, submitted: Long,
                              var firstLaunch: Long = Long.MaxValue,
                              taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer[Long]())
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stages = mutable.Map[(Int, Int), StageRec]()
  private val spans = mutable.ArrayBuffer[(String, Span)]()
  private val stats = mutable.Map[String, GroupStats]()
  private var openJobs = 0

  private def st(g: String) = stats.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    openJobs += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      jobGroup(e.jobId) = grp
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageGroup(_) = grp)
      st(grp).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs -= 1
    jobGroup.remove(e.jobId).foreach { g =>
      spans += g -> Span("job", -1, jobStart.remove(e.jobId).get.toDouble, e.time.toDouble)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageGroup.get(i.stageId).foreach { g =>
      stages((i.stageId, i.attemptNumber())) =
        StageRec(g, i.submissionTime.getOrElse(System.currentTimeMillis()))
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val g = st(s.group)
      g.tasks += 1
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        g.inputBytes += m.inputMetrics.bytesRead
        g.inputRecords += m.inputMetrics.recordsRead
        g.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        g.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        g.spillBytes += m.diskBytesSpilled
        g.cpuNs += m.executorCpuTime
        g.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.remove((i.stageId, i.attemptNumber())).foreach { s =>
      val g = st(s.group)
      g.stages += 1
      val end = i.completionTime.getOrElse(System.currentTimeMillis())
      if (s.firstLaunch != Long.MaxValue) g.schedWaitMs += math.max(0L, s.firstLaunch - s.submitted)
      spans += s.group -> Span("stage", -1, s.submitted.toDouble, end.toDouble)
      if (s.taskMs.nonEmpty && i.stageId > g.lastStage) {
        g.lastStage = i.stageId
        val sorted = s.taskMs.sorted
        val med = math.max(1L, sorted(sorted.length / 2))
        g.lastStageSkew = sorted.last.toDouble / med
      }
    }
  }

  /** Waits until every started job has ended and the event queue is quiet. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      if (synchronized(openJobs <= 0 && stages.isEmpty)) quiet += 1 else quiet = 0
    }
  }

  private def under(group: String)(g: String) = g == group || g.startsWith(group + "/")

  /** Stats of a job group and its `group/<span>` sub-groups, summed. */
  def statsOf(group: String): GroupStats = synchronized {
    val out = new GroupStats
    stats.filter(e => under(group)(e._1)).values.foreach { g =>
      out.jobs += g.jobs; out.stages += g.stages; out.tasks += g.tasks
      out.inputBytes += g.inputBytes; out.inputRecords += g.inputRecords
      out.shuffleReadBytes += g.shuffleReadBytes; out.shuffleWriteBytes += g.shuffleWriteBytes
      out.shuffleRecords += g.shuffleRecords; out.spillBytes += g.spillBytes
      out.cpuNs += g.cpuNs; out.outputBytes += g.outputBytes
      out.schedWaitMs += g.schedWaitMs
      if (g.lastStage > out.lastStage) { out.lastStage = g.lastStage; out.lastStageSkew = g.lastStageSkew }
    }
    out
  }

  /** Job and stage spans of a job group and its sub-groups. */
  def spansOf(group: String): Seq[Span] =
    synchronized(spans.filter(e => under(group)(e._1)).map(_._2).toSeq)
}

/** Span arithmetic for the traced run. */
object Spans {
  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children. Children are the spans of the next level
    * (`levels` from the root down) that lie inside it.
    */
  def selfTimes(levels: Seq[Seq[Span]]): Seq[(Span, Double)] =
    levels.indices.flatMap { li =>
      val kids = if (li + 1 < levels.length) levels(li + 1) else Nil
      levels(li).map { p =>
        val covered = kids.filter(c => c.start < p.end && c.end > p.start)
          .map(c => (math.max(c.start, p.start), math.min(c.end, p.end)))
        p -> math.max(0.0, p.ms - unionMs(covered))
      }
    }
}
