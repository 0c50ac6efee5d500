package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, CommandResultExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval at one of four levels: an operation (an export or a
  * key call), an action (a SQL execution), a job or a stage. Times are
  * epoch milliseconds. */
final case class Span(level: String, id: String, name: String, start: Long, end: Long,
                      parent: String, op: Long) {
  def dur: Long = end - start
}

/** The traced run's listener. Spans and counts stay in memory until the
  * run ends.
  *
  * Actions come from SQL execution start/end events. The end event carries
  * the same action name (`head`, `save`, `collect`, ...) and QueryExecution
  * that a QueryExecutionListener receives, plus the execution id that jobs
  * carry, so one listener links jobs to actions exactly. */
final class Trace(sc: SparkContext) extends SparkListener {
  private val lock = new Object
  val spans = mutable.ArrayBuffer[Span]()
  val counts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

  @volatile private var op = 0L
  @volatile private var counting = true
  private var opName = ""
  private var opStart = 0L
  private val execStart = mutable.Map[Long, (Long, String)]()
  private val jobStart = mutable.Map[Int, (Long, String)]()
  private val jobDesc = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  /** Each action span with its name and the paths it writes, then scans. */
  val actions = mutable.ArrayBuffer[(Span, String, Seq[String])]()

  /** Starts the next operation. The counts leave out operations that are
    * not `counted`: the benchmark's own checks. */
  def beginOp(name: String, counted: Boolean = true): Unit = lock.synchronized {
    op += 1; opName = name; counting = counted; opStart = System.currentTimeMillis()
  }
  def endOp(): Unit = {
    Trace.drain(sc)
    lock.synchronized { spans += Span("operation", s"op$op", opName, opStart, System.currentTimeMillis(), "", op) }
  }

  /** The spans directly under one operation, in start order, each with the
    * paths it writes, scans or lists. */
  def topLevel(op: Long): Seq[(Span, Seq[String])] = lock.synchronized {
    val paths = actions.map { case (s, _, ps) => s.id -> ps }.toMap
    spans.filter(s => s.op == op && s.parent == s"op$op" && s.level != "operation").toSeq
      .sortBy(_.start).map(s => s -> paths.getOrElse(s.id, Seq(s.name)))
  }

  private def add(k: String, v: Double): Unit = if (counting) counts(k) = counts(k) + v

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => lock.synchronized {
      val parent = s.rootExecutionId.filter(_ != s.executionId).map(r => s"sql$r").getOrElse(s"op$op")
      execStart(s.executionId) = (s.time, parent)
    }
    case s: SparkListenerSQLExecutionEnd => lock.synchronized {
      execStart.remove(s.executionId).foreach { case (t0, parent) =>
        val (name, qe) = PerfbenchBridge.action(s)
        val span = Span("action", s"sql${s.executionId}", name.getOrElse("action"), t0, s.time, parent, op)
        spans += span
        actions += ((span, span.name, qe.toSeq.flatMap(Trace.paths(_))))
        qe.foreach(q => Trace.writeMetrics(q.executedPlan).foreach { case (k, v) => add(k, v) })
      }
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    jobStart(j.jobId) = (j.time, exec.map(x => s"sql$x").getOrElse(s"op$op"))
    jobDesc(j.jobId) = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    j.stageIds.foreach(s => stageJob(s) = s"job${j.jobId}")
    add("spark.jobs", 1)
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(j.jobId).foreach { case (t0, parent) =>
      spans += Span("job", s"job${j.jobId}", jobDesc.remove(j.jobId).getOrElse(""), t0, j.time, parent, op)
    }
  }
  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = lock.synchronized {
    stageSubmit((s.stageInfo.stageId, s.stageInfo.attemptNumber())) =
      s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = s.stageInfo
    val t0 = stageSubmit.remove((i.stageId, i.attemptNumber())).getOrElse(i.submissionTime.getOrElse(0L))
    spans += Span("stage", s"stage${i.stageId}.${i.attemptNumber()}", i.name, t0,
      i.completionTime.getOrElse(System.currentTimeMillis()), stageJob.getOrElse(i.stageId, s"op$op"), op)
    add("spark.stages", 1)
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = lock.synchronized {
    add("spark.tasks", 1)
    if (!t.taskInfo.successful) add("spark.failed_tasks", 1)
    stageSubmit.get((t.stageId, t.stageAttemptId)).foreach(s =>
      add("spark.task_wait_s", math.max(0L, t.taskInfo.launchTime - s) / 1e3))
    val m = t.taskMetrics
    if (m != null) {
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.executor_cpu_s", (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle_records", m.shuffleReadMetrics.recordsRead.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("ingest.input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }
}

object Trace {
  def drain(sc: SparkContext): Unit = PerfbenchBridge.drain(sc)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _ => p.children.flatMap(nodes)
  })

  /** Files written by a write command, from its SQL metrics. */
  def writeMetrics(p: SparkPlan): Seq[(String, Double)] = nodes(p).collect {
    case w: DataWritingCommandExec => w.cmd.metrics
  }.flatMap { m =>
    Seq("etl.files_written" -> "numFiles", "etl.bytes_written" -> "numOutputBytes",
      "etl.partitions_written" -> "numParts")
      .flatMap { case (k, n) => m.get(n).map(x => k -> x.value.toDouble) }
  }

  /** Paths an action writes, then the paths it scans. */
  def paths(qe: org.apache.spark.sql.execution.QueryExecution): Seq[String] = {
    val plan = qe.analyzed
    val written = plan.collect { case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString } ++
      nodes(qe.executedPlan).collect {
        case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _) => i.outputPath.toString
      }
    val read = plan.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.rootPaths.map(_.toString)
    }.flatten
    (written.distinct ++ read.distinct)
  }

  /** Seconds of each span's duration not covered by its children, summed
    * per level. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.level).map { case (level, ss) =>
      level -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
          }._1
        (s.dur - covered) / 1e3
      }.sum
    }
  }
}
