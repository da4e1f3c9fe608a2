package graft.operators

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase
import graft.config.BackupConfig

/** What `Backup.run` runs: one scan of its input for a real run (the
  * per-partition counts come from the committed chunks), and the same
  * partition keys for a dry run as for a real one. */
class BackupRunSpec extends SparkTestBase {
  import spark.implicits._

  private val t0 = Instant.parse("2024-03-01T00:00:00Z")
  private val types = Seq("click", "view", "buy")

  /** `n` events, 97 s apart, with an hour-bucket timestamp column. */
  private def input(n: Int): String = {
    val path = Files.createTempDirectory("graft_backup_run")
      .resolve("events.parquet").toString
    (0 until n).map { i =>
      (i.toLong, types(i % 3), Timestamp.from(t0.plusSeconds(i * 97L)),
        i * 0.5)
    }.toDF("event_id", "event_type", "ts", "value")
      .withColumn("hour", date_trunc("hour", $"ts"))
      .write.parquet(path)
    path
  }

  private def config(in: String, n: Int, rows: Int) = BackupConfig(
    inputPath = in,
    outputPath = Files.createTempDirectory("graft_backup_run_out").toString,
    from = t0, to = t0.plusSeconds(n * 97L), maxRowsPerChunk = rows)

  test("dry-run keys equal real-run keys on a two-column layout with a " +
    "timestamp column, and both equal the chunks' per-partition sums") {
    val n = 600
    val cfg = config(input(n), n, 40)
      .copy(partitionColumns = Seq("event_type", "hour"))
    val dry = Backup.run(spark, cfg.copy(dryRun = true))
    val real = Backup.run(spark, cfg)
    val sums = real.chunks.groupBy(_.partition)
      .map { case (p, cs) => p -> cs.map(_.rows).sum }
    assert(dry.rowsPerPartition == real.rowsPerPartition)
    assert(real.rowsPerPartition == sums)
    assert(sums.values.sum == n)
    // the sink's directory rendering, not java.sql.Timestamp's
    assert(dry.rowsPerPartition.contains("click/2024-03-01 00:00:00.000000"),
      dry.rowsPerPartition.keys.toSeq.sorted.take(3))
  }

  /** Optimized plans of every query, and the number of publish rename
    * jobs (the jobs whose call site is in BackupSink), while `body`
    * runs. */
  private def observe(body: => Unit): (Seq[LogicalPlan], Int) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val renameJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan): Unit
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit =
        plans.add(qe.optimizedPlan): Unit
    }
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.contains(" at BackupSink.scala:")))
          renameJobs.incrementAndGet(): Unit
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(queries)
    spark.sparkContext.addSparkListener(jobs)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(queries)
      spark.sparkContext.removeSparkListener(jobs)
    }
    import scala.jdk.CollectionConverters._
    (plans.asScala.toSeq, renameJobs.get)
  }

  private def aggregates(p: LogicalPlan): Boolean =
    p.exists(_.isInstanceOf[Aggregate])

  private def scans(p: LogicalPlan): Boolean =
    p.exists(_.isInstanceOf[LogicalRelation])

  test("a real run scans its input once: no aggregate over it, and no " +
    "publish job below 1000 chunks") {
    val n = 600
    val in = input(n)
    // the detector sees an aggregate over the input when one runs
    val (control, _) = observe(
      spark.read.parquet(in).groupBy("event_type").count().collect(): Unit)
    assert(control.exists(p => aggregates(p) && scans(p)))

    var chunks = 0
    val (plans, renameJobs) = observe {
      chunks = Backup.run(spark, config(in, n, 40)).chunks.size
    }
    assert(chunks > 1 && chunks < 1000)
    assert(plans.exists(scans), "the write's plan reads the input")
    assert(!plans.exists(aggregates),
      plans.filter(aggregates).map(_.treeString).mkString("\n"))
    assert(renameJobs == 0)
  }

  test("past 1000 chunks the publish renames run as one job") {
    val n = 1200
    val cfg = config(input(n), n, 1)
    var res: Backup.Result = null
    val (_, renameJobs) = observe { res = Backup.run(spark, cfg) }
    assert(res.chunks.size == n)
    assert(renameJobs == 1)
    assert(res.rowsPerPartition.values.sum == n)
    assert(spark.read.format("graftbackup").load(cfg.outputPath).count() == n)
  }
}
