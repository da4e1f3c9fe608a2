package graft.operators

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase
import graft.config.BackupConfig

/** `Restore.run` returns its output read back with the schema it just
  * wrote, so it runs no footer job to infer that schema again. */
class RestoreReadBackSpec extends SparkTestBase {
  import spark.implicits._

  /** Jobs `body` starts outside any SQL execution: Spark runs parquet
    * schema inference as such a job, a query's jobs run inside one. */
  private def jobsOutsideQueries(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .isEmpty) n.incrementAndGet(): Unit
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  test("a restore runs one job fewer: no schema inference of its output") {
    val t0 = Instant.parse("2024-03-01T00:00:00Z")
    val types = Seq("click", "view", "buy")
    val input = Files.createTempDirectory("graft_restore_jobs_in")
      .resolve("events.parquet").toString
    val source = (0 until 600).map { i =>
      (i.toLong, types(i % 3), Timestamp.from(t0.plusSeconds(i * 97L)),
        (i % 50) * 1.5)
    }.toDF("event_id", "event_type", "ts", "value")
    source.write.parquet(input)
    val backup = Files.createTempDirectory("graft_restore_jobs_b").toString
    Backup.run(spark, BackupConfig(inputPath = input, outputPath = backup,
      from = t0, to = t0.plusSeconds(600 * 97L)), faithfulStrings = true)
    val out = Files.createTempDirectory("graft_restore_jobs_r").toString

    var restored: org.apache.spark.sql.DataFrame = null
    val restoreJobs = jobsOutsideQueries {
      restored = Restore.run(spark, backup, source.schema, "event_type", out)
    }
    // the read Restore.run used to return: one inference job
    var inferred: org.apache.spark.sql.DataFrame = null
    val inferJobs = jobsOutsideQueries { inferred = spark.read.parquet(out) }
    assert(inferJobs == 1 && restoreJobs == 0,
      s"jobs outside a query: restore $restoreJobs, bare read $inferJobs")
    assert(restored.schema == inferred.schema)
    assert(restored.collect().toSet == inferred.collect().toSet)
    assert(restored.count() == 600)
  }
}
