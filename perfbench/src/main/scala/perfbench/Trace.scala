package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._

/** Tracing from outside the program: one span per call into a layer's
  * public function, and the Spark jobs, stages and tasks that ran
  * beneath it, as a `SparkListener` sees them. Times are epoch
  * milliseconds, the clock Spark's scheduler events use. */
object Trace {

  final case class Span(id: Int, name: String, op: Int, parent: Int,
      start: Long, var end: Long = -1L)

  final case class StageRec(id: Int, tasks: Int, submitted: Long, completed: Long,
      runMs: Long, gcMs: Long, inputRecords: Long, shuffleBytes: Long,
      spillBytes: Long, taskIntervals: Vector[(Long, Long)])

  final case class JobRec(id: Int, group: Option[String], start: Long,
      stageIds: Seq[Int], var end: Long = -1L)

  /** Totals over a set of jobs. */
  final case class Work(jobs: Int, stages: Int, tasks: Long, runMs: Long,
      gcMs: Long, inputRecords: Long, shuffleBytes: Long, spillBytes: Long) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      runMs + o.runMs, gcMs + o.gcMs, inputRecords + o.inputRecords,
      shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  }
  val noWork: Work = Work(0, 0, 0, 0, 0, 0, 0, 0)

  private val groupPrefix = "perfbench-span-"

  /** Records every job, completed stage and task of the application. */
  final class Ledger extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, JobRec]()
    private val stages = mutable.HashMap[Int, StageRec]()
    private val taskIv = mutable.HashMap[Int, mutable.ArrayBuffer[(Long, Long)]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskIv.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        (e.taskInfo.launchTime -> e.taskInfo.finishTime)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages(i.stageId) = StageRec(i.stageId, i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        m.executorRunTime, m.jvmGCTime, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        taskIv.remove(i.stageId).map(_.toVector).getOrElse(Vector.empty))
    }

    /** Jobs tagged with one of `groups`, or not tagged by a span and
      * started inside `[start, end]` (jobs from threads the caller does
      * not own, such as a streaming query's, carry another group or none). */
    def jobsOf(groups: Set[String], start: Long, end: Long): Seq[JobRec] =
      synchronized {
        jobs.values.filter(j => j.group match {
          case Some(g) if g.startsWith(groupPrefix) => groups(g)
          case _ => j.start >= start && j.start <= end
        }).toSeq
      }

    def stageOf(id: Int): Option[StageRec] = synchronized(stages.get(id))

    def work(js: Seq[JobRec]): Work = js.foldLeft(noWork) { (w, j) =>
      val ss = j.stageIds.flatMap(stageOf)
      w + Work(1, ss.size, ss.map(_.tasks.toLong).sum, ss.map(_.runMs).sum,
        ss.map(_.gcMs).sum, ss.map(_.inputRecords).sum, ss.map(_.shuffleBytes).sum,
        ss.map(_.spillBytes).sum)
    }
  }

  /** Records spans and tags the Spark jobs each one launches with a job
    * group. With `enabled = false` it only runs the body. */
  final class Tracer(sc: SparkContext, val enabled: Boolean) {
    val ledger = new Ledger
    private val spans = mutable.ArrayBuffer[Span]()
    private val stack = mutable.Stack[Span]()
    if (enabled) sc.addSparkListener(ledger)

    private def group(s: Span): String = groupPrefix + s.id

    def span[T](name: String, op: Int)(body: => T): T =
      if (!enabled) body
      else {
        val s = Span(spans.size, name, op, stack.headOption.map(_.id).getOrElse(-1),
          System.currentTimeMillis())
        spans += s
        stack.push(s)
        sc.setJobGroup(group(s), name)
        try body
        finally {
          s.end = System.currentTimeMillis()
          stack.pop()
          stack.headOption match {
            case Some(p) => sc.setJobGroup(group(p), p.name)
            case None => sc.clearJobGroup()
          }
        }
      }

    /** Wait until the listener has seen every finished job. */
    def settle(): Unit = if (enabled) ListenerBusAccess.drain(sc)

    def all: Seq[Span] = spans.toSeq

    def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

    private def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

    def jobs(s: Span): Seq[Trace.JobRec] =
      ledger.jobsOf(subtree(s).map(group).toSet, s.start, s.end)

    def work(s: Span): Work = ledger.work(jobs(s))

    def wallMs(s: Span): Long = s.end - s.start

    def gapMs(s: Span): Long =
      Stats.driverGap(s.start, s.end, jobs(s).map(j => (j.start, j.end)))

    /** Spans as an artifact: each with the jobs, stages and task
      * intervals that ran beneath it (jobs are listed under the
      * innermost span that launched them). */
    def dump(): Seq[Map[String, Any]] = {
      val owned = mutable.HashSet[Int]()
      spans.sortBy(s => -s.id).map { s =>
        val js = jobs(s).filterNot(j => owned(j.id))
        owned ++= js.map(_.id)
        s.id -> js
      }.toMap.toSeq.sortBy(_._1).map { case (id, js) =>
        val s = spans(id)
        Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
          "start" -> s.start, "end" -> s.end,
          "jobs" -> js.map(j => Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
            "stages" -> j.stageIds.flatMap(ledger.stageOf).map(st => Map(
              "id" -> st.id, "tasks" -> st.tasks, "submitted" -> st.submitted,
              "completed" -> st.completed, "run_ms" -> st.runMs,
              "task_intervals" -> st.taskIntervals.map { case (a, b) => Seq(a, b) })))))
      }
    }
  }
}
