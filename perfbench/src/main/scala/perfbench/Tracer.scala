package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, QueryExecution, SparkPlan, ColumnarToRowExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Attributes Spark work to the `graft` module and function that issued it,
  * from outside the program.
  *
  * Each operation the harness times is a root span. Every SQL execution and
  * every job inside it becomes a child span named `Module.function`: the
  * first `graft.` frame below the entry call (`graft.etl.Pipeline$.run`) in
  * the execution's call-site stack. Jobs that adaptive execution submits from
  * pool threads carry no useful stack of their own, so they inherit the site
  * of the SQL execution named by their `spark.sql.execution.id`. Task
  * metrics are summed per job; the nested event scan's row counts come from
  * the executed plan's SQL metrics. Everything stays in memory until
  * [[spans]] is read at the end of the run.
  *
  * Call-site stacks are cut at `spark.callstack.depth` frames (a JVM system
  * property, 20 by default); the launcher raises it so the entry frame is
  * always on the stack.
  */
final class Tracer(entryClass: String, entryMethod: String) extends SparkListener with QueryExecutionListener {

  import Tracer._

  final class Exec(val id: Long, val op: Int, val site: String, val cached: Boolean, val rollup: Boolean, val start: Long) {
    var end: Long = start
  }

  final class Job(val id: Int, val op: Int, val site: String, val exec: Option[Exec], val start: Long) {
    var end: Long = start
    var stages = 0
    var tasks = 0
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }

  private var op = -1
  private val execs = mutable.LongMap[Exec]()
  private val rootExecs = mutable.ArrayBuffer[Exec]()
  private val jobs = mutable.ArrayBuffer[Job]()
  private val jobById = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private val scanRows = mutable.Map[Int, (Long, Long)]().withDefaultValue((0L, 0L))
  private val opWindows = mutable.ArrayBuffer[(Int, Long, Long)]()

  def begin(i: Int): Unit = synchronized { op = i }
  def end(): Unit = synchronized { op = -1 }

  /** `Module.function` of the first `graft.` frame below the entry frame. */
  def attribute(stack: String): String = {
    val frames = stack.split("\n").toSeq.flatMap(parseFrame)
    val entry = frames.lastIndexWhere { case (c, m) => c == entryClass && m == entryMethod }
    val below = if (entry < 0) frames else frames.take(entry)
    val entryModule = moduleOf(entryClass)
    below.reverseIterator
      .collectFirst { case (c, m) if c.startsWith("graft.") && moduleOf(c) != entryModule => s"${moduleOf(c)}.${functionOf(m)}" }
      .getOrElse(if (entry < 0) "unattributed" else s"$entryModule.${functionOf(entryMethod)}")
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart if op >= 0 =>
        val parent = s.rootExecutionId.filter(_ != s.executionId).flatMap(execs.get)
        val e = new Exec(
          s.executionId,
          op,
          parent.map(_.site).getOrElse(attribute(s.details)),
          parent.exists(_.cached) || s.details.contains(SessionCacheFrame),
          parent.exists(_.rollup) || s.physicalPlanDescription.contains(EventFileMarker),
          s.time
        )
        execs(s.executionId) = e
        if (parent.isEmpty) rootExecs += e
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.end = e.time)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (op >= 0) {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execs.get(id.toLong))
      val site = exec.map(_.site).getOrElse(attribute(e.stageInfos.headOption.map(_.details).getOrElse("")))
      val j = new Job(e.jobId, op, site, exec, e.time)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    if (op >= 0) {
      val (scanned, kept) = eventScanRows(qe.executedPlan)
      if (scanned > 0) {
        val (s0, k0) = scanRows(op)
        scanRows(op) = (s0 + scanned, k0 + kept)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Per-layer counters of operation `i`, which ran over [startMs, endMs]. */
  def summarize(i: Int, startMs: Long, endMs: Long): Map[String, Double] = synchronized {
    opWindows += ((i, startMs, endMs))
    val opJobs = jobs.filter(_.op == i).toSeq
    val opExecs = rootExecs.filter(_.op == i).toSeq
    def clip(a: Long, b: Long) = (math.max(a, startMs), math.min(b, endMs))
    // a module's spans: its root executions, plus jobs that ran outside any execution
    def spans(p: String => Boolean): Seq[(Long, Long)] =
      opExecs.filter(e => p(e.site)).map(e => clip(e.start, e.end)) ++
        opJobs.filter(j => j.exec.isEmpty && p(j.site)).map(j => clip(j.start, j.end))
    def busy(p: String => Boolean) = covered(spans(p)) / 1e3
    def jobCount(p: String => Boolean) = opJobs.count(j => p(j.site)).toDouble
    def bytes(js: Seq[Job])(f: Job => Long) = js.map(f).sum.toDouble

    val wall = (endMs - startMs) / 1e3
    val jobBusy = covered(opJobs.map(j => clip(j.start, j.end))) / 1e3
    val rollupScans = opJobs.filter(j => j.exec.exists(_.rollup) && j.inputBytes > 0)
    val hourly = covered(
      rollupScans.map(j => clip(j.start, j.end)) ++ spans(_.startsWith("HourlyRollup."))
    ) / 1e3
    val warehouseJobs = opJobs.filter(_.site.startsWith("ParquetWarehouse."))
    val cached = opJobs.filter(_.exec.exists(_.cached))
    val (scanned, kept) = scanRows(i)
    Map(
      "spark.jobs" -> opJobs.size.toDouble,
      "spark.stages" -> opJobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> opJobs.map(_.tasks).sum.toDouble,
      "spark.job_busy_s" -> jobBusy,
      "spark.driver_self_s" -> (wall - jobBusy),
      "spark.input_bytes" -> bytes(opJobs)(_.inputBytes),
      "spark.shuffle_read_bytes" -> bytes(opJobs)(_.shuffleReadBytes),
      "spark.shuffle_write_bytes" -> bytes(opJobs)(_.shuffleWriteBytes),
      "spark.spill_bytes" -> bytes(opJobs)(_.spillBytes),
      "spark.output_bytes" -> bytes(opJobs)(_.outputBytes),
      "hourly_rollup.s" -> hourly,
      "hourly_rollup.rows_scanned" -> scanned.toDouble,
      "hourly_rollup.rows_kept" -> kept.toDouble,
      "hourly_rollup.bytes_read" -> bytes(rollupScans)(_.inputBytes),
      "csv_writer.s" -> busy(_.startsWith("CsvWriter.")),
      "csv_writer.jobs" -> jobCount(_.startsWith("CsvWriter.")),
      "quality_rules.s" -> busy(_.startsWith("QualityRules.")),
      "quality_rules.jobs" -> jobCount(_.startsWith("QualityRules.")),
      "warehouse.load_s" -> busy(_.startsWith("ParquetWarehouse.load")),
      "warehouse.load_jobs" -> jobCount(_.startsWith("ParquetWarehouse.load")),
      "warehouse.store_invalid_s" -> busy(_.startsWith("ParquetWarehouse.storeInvalid")),
      "warehouse.verify_s" -> busy(_.startsWith("ParquetWarehouse.verify")),
      "warehouse.bytes_written" -> bytes(warehouseJobs)(_.outputBytes),
      "pipeline.self_s" -> (wall - busy(s => !s.startsWith("Pipeline."))),
      "session_cache.build_jobs" -> cached.size.toDouble
    )
  }

  /** Jobs per `Module.function` over the given operations, for the run log. */
  def jobsBySite(ops: Set[Int]): Map[String, Int] = synchronized {
    jobs.filter(j => ops(j.op)).groupBy(_.site).view.mapValues(_.size).toMap
  }

  /** Every summarized operation as a root span, with its executions and
    * jobs as child spans.
    */
  def spans: Seq[String] = synchronized {
    val o = opWindows.map { case (i, a, b) =>
      s"""{"kind":"operation","id":$i,"name":"$entryClass.$entryMethod","start_ms":$a,"end_ms":$b}"""
    }
    val e = rootExecs.map { x =>
      s"""{"kind":"execution","id":${x.id},"op":${x.op},"name":"${x.site}","start_ms":${x.start},"end_ms":${x.end}}"""
    }
    val j = jobs.map { x =>
      s"""{"kind":"job","id":${x.id},"op":${x.op},"execution":${x.exec.map(_.id.toString).getOrElse("null")},""" +
        s""""name":"${x.site}","start_ms":${x.start},"end_ms":${x.end},"stages":${x.stages},"tasks":${x.tasks},""" +
        s""""input_bytes":${x.inputBytes},"shuffle_read_bytes":${x.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${x.shuffleWriteBytes},"spill_bytes":${x.spillBytes},"output_bytes":${x.outputBytes}}"""
    }
    (o ++ e ++ j).toSeq
  }
}

object Tracer {
  val EventFileMarker = "_processed_dk_"
  val SessionCacheFrame = "graft.operators.SessionCache"

  private val FrameRe = """^(?:.*/)?([\w.$]+)\.([\w$<>]+)\(.*\)$""".r

  private def parseFrame(line: String): Option[(String, String)] = line.trim match {
    case FrameRe(c, m) => Some((c, m))
    case _             => None
  }

  /** `graft.etl.ParquetWarehouse$Snapshot$` -> `ParquetWarehouse`. */
  def moduleOf(cls: String): String = cls.substring(cls.lastIndexOf('.') + 1).split('$').headOption.getOrElse(cls)

  /** `$anonfun$run$1` -> `run`; `load` -> `load`. */
  def functionOf(method: String): String =
    method.stripPrefix("$anonfun$").split('$').find(_.nonEmpty).getOrElse(method)

  /** Total length of the union of the intervals, in ms. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (b > reach) {
        total += b - math.max(a, reach)
        reach = b
      }
    }
    total
  }

  /** Rows the nested event scan produced, and rows its filter kept. */
  def eventScanRows(plan: SparkPlan): (Long, Long) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other                    => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    def strip(p: SparkPlan): SparkPlan = p match {
      case c: ColumnarToRowExec => strip(c.child)
      case i: InputAdapter      => strip(i.child)
      case pr: ProjectExec      => strip(pr.child)
      case other                => other
    }
    def isEventScan(s: FileSourceScanExec) = s.relation.location.rootPaths.exists(_.getName.contains(EventFileMarker))
    nodes(plan).foldLeft((0L, 0L)) {
      case ((s, k), f: FilterExec) =>
        strip(f.child) match {
          case scan: FileSourceScanExec if isEventScan(scan) =>
            (s + scan.metrics("numOutputRows").value, k + f.metrics("numOutputRows").value)
          case _ => (s, k)
        }
      case (acc, _) => acc
    }
  }
}
