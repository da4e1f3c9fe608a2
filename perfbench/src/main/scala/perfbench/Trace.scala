package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds; `parent` is the id
  * of the span that caused this one (0 for none). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder.
  *
  * `op` and `call` spans come from the benchmark's own code, around its
  * calls into the engine, and are always recorded: the end-to-end
  * metrics are their walls. With `enabled`, listeners registered through
  * Spark's public APIs add `qe` (one QueryExecution with its planning
  * phases), `job`, `stage` and `trigger` (one streaming progress event)
  * spans plus per-stage task counts. Jobs are tied to their op through
  * the job group the op sets. Nothing is written until [[write]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  /** Epoch nanoseconds on the monotonic clock. */
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  val ops = mutable.ArrayBuffer.empty[Span]
  val calls = mutable.ArrayBuffer.empty[Span]
  private var currentOp: Long = 0

  private val GroupPrefix = "perfbench-op-"

  /** Runs one timed benchmark step. Spark jobs it starts on this thread
    * carry the op's job group. */
  def op[T](name: String)(body: => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    currentOp = id
    val t0 = now()
    try {
      val r = body
      val s = Span(id, 0, "op", name, t0, now())
      ops += s
      (r, s)
    } finally {
      currentOp = 0
      sc.clearJobGroup()
    }
  }

  /** Times one call into an engine module inside the current op. */
  def call[T](name: String)(body: => T): T = {
    val t0 = now()
    try body
    finally calls += Span(ids.incrementAndGet(), currentOp, "call", name,
      t0, now())
  }

  /** Runs untimed work (set-up, correctness checks) under its own job
    * group, so its jobs are never attributed to an op. */
  def untimed[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-untimed", "untimed", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  // ---- listener state (written on the listener bus thread, under the
  // tracer's lock) -------------------------------------------------------

  final case class JobRec(id: Int, group: String, execId: Long, start: Long,
                          var end: Long, stages: Seq[Int])
  final case class StageRec(id: Int, var start: Long, var end: Long,
                            var tasks: Int = 0, var runMs: Long = 0,
                            var cpuNs: Long = 0, var gcMs: Long = 0,
                            var delayMs: Long = 0,
                            var shuffleWrite: Long = 0,
                            var shuffleRead: Long = 0, var spill: Long = 0)
  final case class QeRec(start: Long, end: Long, analysis: Long,
                         optimize: Long, physical: Long, scans: Int,
                         filesPlanned: Long, rowsDecoded: Long)
  final case class TriggerRec(query: String, batch: Long,
                              start: Long, rows: Long,
                              durations: Map[String, Long])
  final case class ExecRec(id: Long, start: Long, var end: Long,
                           isBackupWrite: Boolean)

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val execs = mutable.HashMap.empty[Long, ExecRec]
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val triggers = new ConcurrentLinkedQueue[TriggerRec]()
  /** Job groups (streaming query run ids) whose jobs are attributed to
    * whichever op was open when they started. */
  val ambientGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val jobsStarted = new AtomicLong(0)
  private val jobsEnded = new AtomicLong(0)

  private def ms(t: Long): Long = t * 1000000L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobsStarted.incrementAndGet()
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = JobRec(e.jobId, group, exec, ms(e.time), ms(e.time),
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = ms(e.time))
      jobsEnded.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val t = i.submissionTime.map(ms).getOrElse(now())
        stages.getOrElseUpdate(i.stageId, StageRec(i.stageId, t, t)).start = t
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val s = stages.getOrElseUpdate(i.stageId,
          StageRec(i.stageId, now(), now()))
        s.end = i.completionTime.map(ms).getOrElse(now())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId, now(), now()))
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val d = s.physicalPlanDescription
          val write = Seq("OverwriteByExpression", "AppendData",
            "WriteToDataSourceV2", "OverwritePartitionsDynamic")
            .exists(d.contains) && d.contains("Backup")
          execs(s.executionId) = ExecRec(s.executionId, ms(s.time),
            ms(s.time), write)
        case s: SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach(_.end = ms(s.time))
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def dur(p: String): Long =
        ph.get(p).map(x => ms(x.endTimeMs - x.startTimeMs)).getOrElse(0L)
      if (ph.nonEmpty) {
        val start = ms(ph.values.map(_.startTimeMs).min)
        val end = ms(ph.values.map(_.endTimeMs).max)
        var scans = 0
        var planned = 0L
        var rows = 0L
        try visitScans(qe.executedPlan) { b =>
          scans += 1
          planned += b.inputRDD.getNumPartitions
          rows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        } catch { case scala.util.control.NonFatal(_) => () }
        qes.add(QeRec(start, end, dur("analysis"), dur("optimization"),
          dur("planning"), scans, planned, rows))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Visits the engine's backup-connector scans of a physical plan,
    * through adaptive and query-stage wrappers and subqueries. */
  private def visitScans(p: SparkPlan)(f: BatchScanExec => Unit): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => visitScans(a.executedPlan)(f)
      case q: QueryStageExec => visitScans(q.plan)(f)
      case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.") =>
        f(b)
      case _ =>
    }
    p.children.foreach(visitScans(_)(f))
    p.subqueries.foreach(visitScans(_)(f))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      ambientGroups.add(e.runId.toString)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp)
      triggers.add(TriggerRec(Option(p.name).getOrElse(""), p.batchId, start.getEpochSecond * 1000000000L + start.getNano,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private val codegenTime0 =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private val codegenCount0 =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Codegen compile seconds and classes since the tracer was made. */
  def codegen(): (Double, Long) = (
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime -
      codegenTime0) / 1e9,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount - codegenCount0)

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listener bus has delivered every job end. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 5000000000L
    var stableSince = System.nanoTime()
    var last = -1L
    while (System.nanoTime() < deadline &&
      (jobsEnded.get() < jobsStarted.get() ||
        System.nanoTime() - stableSince < 300000000L)) {
      val seen = jobsEnded.get() + qes.size
      if (seen != last) { last = seen; stableSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- attribution --------------------------------------------------

  private def opOf(t: Long): Option[Span] =
    ops.find(o => t >= o.start && t <= o.end)

  /** The op a job belongs to: by its job group, or, for a streaming
    * query's jobs, by when it started. */
  def opOfJob(j: JobRec): Option[Span] =
    if (j.group.startsWith(GroupPrefix)) {
      val id = j.group.stripPrefix(GroupPrefix).toLong
      ops.find(_.id == id)
    } else if (ambientGroups.contains(j.group)) opOf(j.start)
    else None

  def jobsOf(op: Span): Seq[JobRec] = synchronized {
    jobs.values.filter(j => opOfJob(j).exists(_.id == op.id)).toSeq
  }

  def qesOf(op: Span): Seq[QeRec] =
    qes.asScala.filter(q => q.start >= op.start && q.start <= op.end).toSeq

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get)
  }

  /** An op's wall not covered by any of its Spark jobs. */
  def selfNs(op: Span): Long =
    Stats.selfTime(op.start, op.end, jobsOf(op).map(j => (j.start, j.end)))

  /** Seconds from the last job end to the execution end, summed over
    * backup-sink write executions whose jobs belong to `ops`. */
  def sinkCommitSeconds(opSpans: Seq[Span]): Double = synchronized {
    val ids = opSpans.map(_.id).toSet
    val byExec = jobs.values.filter(j => opOfJob(j).exists(o => ids(o.id)))
      .groupBy(_.execId)
    execs.values.filter(_.isBackupWrite).toSeq.flatMap { e =>
      byExec.get(e.id).map(js => math.max(0L, e.end - js.map(_.end).max))
    }.sum / 1e9
  }

  /** All spans: ops, calls, and with tracing on, qe/job/stage/trigger. */
  def spans(): Seq[Span] = synchronized {
    val jobSpans = jobs.values.toSeq.map { j =>
      Span(1000000000L + j.id, opOfJob(j).map(_.id).getOrElse(0L), "job",
        s"job ${j.id}", j.start, j.end)
    }
    val stageParent = jobs.values.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val stageSpans = stages.values.toSeq.map { s =>
      Span(2000000000L + s.id,
        stageParent.get(s.id).map(1000000000L + _).getOrElse(0L), "stage",
        s"stage ${s.id}", s.start, s.end,
        Map("tasks" -> s.tasks, "run_s" -> s.runMs / 1e3,
          "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3))
    }
    val qeSpans = qes.asScala.toSeq.zipWithIndex.map { case (q, i) =>
      Span(3000000000L + i, opOf(q.start).map(_.id).getOrElse(0L), "qe",
        "query execution", q.start, q.end,
        Map("analysis_s" -> q.analysis / 1e9, "optimize_s" -> q.optimize / 1e9,
          "physical_s" -> q.physical / 1e9))
    }
    val trigSpans = triggers.asScala.toSeq.zipWithIndex.map { case (t, i) =>
      val d = t.durations.getOrElse("triggerExecution", 0L)
      Span(4000000000L + i, opOf(t.start).map(_.id).getOrElse(0L), "trigger",
        s"${t.query} batch ${t.batch}", t.start, t.start + ms(d),
        t.durations.map { case (k, v) => s"$k.s" -> v / 1e3 } +
          ("rows" -> t.rows.toDouble))
    }
    ops.toSeq ++ calls ++ qeSpans ++ jobSpans ++ stageSpans ++ trigSpans
  }

  /** Writes every span as one JSON line to `path`. */
  def write(path: java.io.File): Int = {
    val all = spans()
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
        .mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"attrs":{$attrs}}""")
    } finally w.close()
    all.size
  }
}
