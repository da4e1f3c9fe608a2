package graft.sources

import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.config.BackupConfig
import graft.operators.Backup

/** The local filesystem under a scheme that only the session's Hadoop
  * conf binds (`fs.sessiononly.impl`): a task that opens a chunk with
  * any other conf cannot resolve the scheme. */
class SessionOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = SessionOnlyFileSystem.Uri
  override def getScheme: String = SessionOnlyFileSystem.Scheme
}

object SessionOnlyFileSystem {
  val Scheme = "sessiononly"
  val Uri: URI = URI.create(s"$Scheme:///")
}

/** Task-side chunk reads (fsck, batch scans, the count pushdown) use
  * the session's Hadoop conf, not a bare `Configuration`. */
class SessionConfReadSpec extends SparkTestBase {

  private val types = Seq("click", "view", "buy")
  private val t0 = Instant.parse("2024-03-01T00:00:00Z")
  private val events = (0 until 600).map { i =>
    (i.toLong, types(i % 3), Timestamp.from(t0.plusSeconds(i * 97L)),
      (i % 50) * 1.5)
  }

  test("fsck, a filtered read and a count(*) pushdown read a root whose " +
    "filesystem only the session conf knows") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val implKey = s"fs.${SessionOnlyFileSystem.Scheme}.impl"
    // uncached, so no instance the driver creates can serve a task that
    // resolved the scheme from another conf
    val cacheKey = s"fs.${SessionOnlyFileSystem.Scheme}.impl.disable.cache"
    hconf.set(implKey, classOf[SessionOnlyFileSystem].getName)
    hconf.setBoolean(cacheKey, true)
    try {
      val input = Files.createTempDirectory("graft_sessionconf_in")
        .resolve("events.parquet").toString
      import spark.implicits._
      events.toDF("event_id", "event_type", "ts", "value")
        .write.parquet(input)
      val root = SessionOnlyFileSystem.Scheme + "://" +
        Files.createTempDirectory("graft_sessionconf_out").toString
      val res = Backup.run(spark, BackupConfig(
        inputPath = input, outputPath = root,
        from = t0, to = t0.plusSeconds(600 * 97L), maxRowsPerChunk = 40))
      assert(res.chunks.size > 4, "the backup must span several tasks")

      val verdicts = Backup.fsck(spark, root, "event_type").collect()
      assert(verdicts.length == res.chunks.size)
      verdicts.foreach { r =>
        assert(r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5),
          s"${r.getString(0)}: readable/crc/envelope = " +
            s"${r.getBoolean(3)}/${r.getBoolean(4)}/${r.getBoolean(5)}")
      }
      assert(verdicts.map(_.getLong(2)).sum == events.size)

      val read = spark.read.format("graftbackup").load(root)
      val got = read.filter(col("event_type") === "view" && col("value") > 30)
        .select("event_id").collect().map(_.getLong(0)).toSet
      val want = events.collect {
        case (id, "view", _, v) if v > 30 => id
      }.toSet
      assert(want.nonEmpty && got == want)

      val counted = read.filter(col("event_type") === "click")
        .agg(count(lit(1)))
      val scans = counted.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan
      }
      assert(scans.nonEmpty && scans.forall(_.isInstanceOf[BackupAggScan]),
        s"expected the count pushdown, got ${scans.map(_.description())}")
      assert(counted.collect().head.getLong(0) ==
        events.count(_._2 == "click"))
    } finally {
      hconf.unset(implKey)
      hconf.unset(cacheKey)
    }
  }
}
