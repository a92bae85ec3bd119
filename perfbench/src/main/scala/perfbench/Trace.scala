package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. Times are wall-clock epoch milliseconds, the
  * clock Spark's listener events carry, so benchmark spans and Spark's
  * job and stage intervals share one axis. Spans are written out once, when
  * the run ends. */
final case class Span(id: Int, parent: Int, name: String, start: Double,
    var end: Double, attrs: mutable.LinkedHashMap[String, Any])

final class Spans {
  private val all = mutable.ArrayBuffer[Span]()

  def open(name: String, parent: Int, start: Double = Stats.nowMs()): Span = synchronized {
    val s = Span(all.size + 1, parent, name, start, start, mutable.LinkedHashMap())
    all += s
    s
  }

  def close(s: Span, end: Double = Stats.nowMs()): Unit = s.end = end

  def find(p: Span => Boolean): Option[Span] = synchronized(all.find(p))

  def children(id: Int): Seq[Span] = synchronized(all.filter(_.parent == id).toSeq)

  def toSeq: Seq[Map[String, Any]] = synchronized {
    all.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))
  }
}

object Ledger {
  final case class Stage(id: Int, numTasks: Int, submitted: Double, completed: Double,
      cpuS: Double, shuffleWriteBytes: Long, spillBytes: Long,
      inputRows: Long, inputBytes: Long)
  final case class Job(id: Int, group: String, start: Double, stageIds: Seq[Int],
      var end: Double = 0)

  /** Counters of a set of jobs and of the stages they ran. */
  final case class Counters(jobs: Int, stages: Int, tasks: Long, cpuS: Double,
      shuffleWriteBytes: Long, spillBytes: Long, peakExecMemBytes: Long,
      inputRows: Long, inputBytes: Long) {
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "task_cpu_s" -> cpuS, "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "peak_exec_mem_bytes" -> peakExecMemBytes,
      "input_rows" -> inputRows, "input_bytes" -> inputBytes)
  }

  /** Length of the union of `intervals`, clipped to [from, to]. */
  def covered(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var total = 0.0
    var reach = from
    intervals.sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, reach)
      val hi = math.min(b, to)
      if (hi > lo) { total += hi - lo; reach = hi }
    }
    total
  }
}

/** Job and stage ledger, attributed by the job group the benchmark sets
  * around each operation. Attribution never uses time windows, so events
  * that arrive late on the listener bus still land on the right query. */
final class Ledger extends SparkListener {
  import Ledger._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[Int, Stage]()
  private val peakMem = mutable.HashMap[Int, Long]()

  private def group(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, group(e.properties), e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      peakMem(e.stageId) = math.max(peakMem.getOrElse(e.stageId, 0L),
        e.taskMetrics.peakExecutionMemory)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages(i.stageId) = Stage(i.stageId, i.numTasks,
      i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
      if (m == null) 0 else m.executorCpuTime / 1e9,
      if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0 else m.inputMetrics.recordsRead,
      if (m == null) 0 else m.inputMetrics.bytesRead)
  }

  def jobsWhere(p: String => Boolean): Seq[Job] = synchronized {
    jobs.values.filter(j => p(j.group)).toSeq
  }

  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  /** Counters of every job whose group satisfies `p`, and of the stages
    * those jobs ran (stages skipped because their output was reused are
    * not counted). */
  def counters(p: String => Boolean): Counters = synchronized {
    val js = jobsWhere(p)
    val ss = stagesOf(js)
    Counters(js.size, ss.size, ss.map(_.numTasks.toLong).sum, ss.map(_.cpuS).sum,
      ss.map(_.shuffleWriteBytes).sum, ss.map(_.spillBytes).sum,
      (ss.map(s => peakMem.getOrElse(s.id, 0L)) :+ 0L).max,
      ss.map(_.inputRows).sum, ss.map(_.inputBytes).sum)
  }
}

/** Catalyst phase times of each action the session runs, keyed by the
  * action's QueryExecution, and a census of the engine's native functions
  * (graft.functions) and UDAFs (graft.udaf) in the executed plans. */
final class PlanPhases extends QueryExecutionListener {
  val phases = new java.util.IdentityHashMap[QueryExecution, Map[String, Double]]()
  private var functions = 0
  private var udafs = 0

  /** (native function uses, UDAF uses) seen so far. */
  def kernelUses: (Int, Int) = phases.synchronized((functions, udafs))

  private def census(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => census(a.executedPlan)
      case s: QueryStageExec => census(s.plan)
      case m: InMemoryTableScanExec => census(m.relation.cachedPlan)
      case _ =>
    }
    p.expressions.foreach(_.foreach {
      case e if e.getClass.getName.startsWith("graft.functions.") => functions += 1
      case a: ScalaAggregator[_, _, _] if a.agg.getClass.getName.startsWith("graft.udaf.") =>
        udafs += 1
      case _ =>
    })
    p.children.foreach(census)
    p.subqueries.foreach(census)
  }

  private def record(qe: QueryExecution): Unit = phases.synchronized {
    phases.put(qe, qe.tracker.phases.map { case (k, v) => k -> (v.durationMs.toDouble) })
    census(qe.executedPlan)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def of(qe: QueryExecution): Map[String, Double] = phases.synchronized {
    Option(phases.get(qe)).getOrElse(Map.empty)
  }
}

/** Micro-batch progress of every streaming query, as the engine reports it. */
final class Progress extends StreamingQueryListener {
  val events = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.synchronized(events += e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The benchmark's listeners, attached only in a traced run. */
final class Tracer(val spark: SparkSession) {
  val spans = new Spans
  val ledger = new Ledger
  val planPhases = new PlanPhases
  val progress = new Progress

  attach()

  /** Listeners on: a traced stretch of the run. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(ledger)
    spark.listenerManager.register(planPhases)
    spark.streams.addListener(progress)
  }

  /** Listeners off: an untraced stretch, e.g. to measure the overhead. */
  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(ledger)
    spark.listenerManager.unregister(planPhases)
    spark.streams.removeListener(progress)
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Adds `spark.job` spans, and their `spark.stage` children, for the
    * jobs of `group`, each under the span among `candidates` whose
    * interval holds the job's start. */
  def attachJobs(group: String, candidates: Seq[Span], fallback: Span): Unit = {
    val js = ledger.jobsWhere(_ == group)
    js.foreach { j =>
      val parent = candidates.find(s => j.start >= s.start - 1 && j.start <= s.end + 1)
        .getOrElse(fallback)
      val js1 = spans.open("spark.job", parent.id, j.start)
      spans.close(js1, j.end)
      js1.attrs("job_id") = j.id
      ledger.stagesOf(Seq(j)).foreach { st =>
        val ss = spans.open("spark.stage", js1.id, st.submitted)
        spans.close(ss, st.completed)
        ss.attrs ++= Seq("stage_id" -> st.id, "tasks" -> st.numTasks, "task_cpu_s" -> st.cpuS,
          "shuffle_write_bytes" -> st.shuffleWriteBytes)
      }
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, Json(spans.toSeq))

}
