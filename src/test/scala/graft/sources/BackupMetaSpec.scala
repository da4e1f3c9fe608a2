package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkTestBase, Tables}
import graft.config.BackupConfig
import graft.operators.{Backup, Restore}

/** The root's stamp ([[BackupMeta]]): one failure mode for a malformed
  * stamp, and a streaming write that stamps a fresh root once. */
class BackupMetaSpec extends SparkTestBase {

  test("a malformed stamp fails a read, a catalog INSERT INTO, Restore " +
    "and incremental, each naming the file") {
    val wh = Files.createTempDirectory("graft_meta_spec").toString
    val root = s"$wh/ns/events"
    Backup.run(spark, BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = root,
      timeColumn = "ts", partitionColumn = "event_type",
      from = Instant.parse("2024-01-05T00:00:00Z"),
      to = Instant.parse("2024-01-15T00:00:00Z")), faithfulStrings = true)
    val stamp = new File(root, BackupMeta.FileName)
    // the checksum sidecar goes too: the verdict is the parser's
    new File(root, s".${BackupMeta.FileName}.crc").delete(): Unit
    Files.write(stamp.toPath, "{\"sessionTimeZone\":".getBytes(UTF_8)): Unit

    def failsNamingStamp(what: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[IllegalStateException] &&
        t.getMessage.contains(s"ns/events/${BackupMeta.FileName}")),
        s"$what: ${chain.map(_.toString).mkString(" <- ")}")
    }
    failsNamingStamp("read") {
      spark.read.format("graftbackup").load(root)
        .filter("ts > '2024-01-06 00:00:00'").count()
    }
    spark.conf.set("spark.sql.catalog.graftmeta", "graft.sources.BackupCatalog")
    spark.conf.set("spark.sql.catalog.graftmeta.warehouse", wh)
    failsNamingStamp("INSERT INTO") {
      spark.sql("""INSERT INTO graftmeta.ns.events
        |SELECT 1L AS event_id, TIMESTAMP '2024-01-06 10:00:00' AS ts,
        |       'click' AS event_type""".stripMargin)
    }
    failsNamingStamp("restore") {
      Restore.run(spark, root, Tables.events(spark, sf0001).schema,
        "event_type", s"$wh/restored")
    }
    failsNamingStamp("incremental") {
      Backup.incremental(spark, s"$sf0001/events.parquet", root,
        Instant.parse("2024-01-25T00:00:00Z"))
    }
  }

  test("a streaming write stamps a fresh root once: epochs after the " +
    "first leave the stamp untouched") {
    val scratch = Files.createTempDirectory("graft_meta_stream")
    val root = scratch.resolve("out").toString
    val input = MemoryStream[(Long, String, Timestamp)](
      Encoders.product[(Long, String, Timestamp)], spark)
    val q = input.toDF().toDF("event_id", "event_type", "ts")
      .writeStream.format("graftbackup")
      .option("partitionColumns", "event_type")
      .option("timeColumn", "ts")
      .option("checkpointLocation", scratch.resolve("ckpt").toString)
      .start(root)
    val stamp = new File(root, BackupMeta.FileName).toPath
    def seen() = (Files.getLastModifiedTime(stamp),
      Files.readAttributes(stamp,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey(),
      new String(Files.readAllBytes(stamp), UTF_8))
    try {
      val states = (0 until 3).map { epoch =>
        val t0 = Timestamp.from(Instant.parse("2024-02-01T00:00:00Z")
          .plusSeconds(3600L * epoch))
        input.addData((epoch.toLong, "click", t0), (epoch + 10L, "view", t0))
        q.processAllAvailable()
        assert(new File(root, s"_streaming_commits/epoch-$epoch").exists())
        val s = seen()
        Thread.sleep(50) // a rewrite would move the modification time
        s
      }
      assert(states.distinct.size == 1, states.mkString("\n"))
      assert(states.head._3.contains("\"partitionColumn\":\"event_type\""))
    } finally q.stop()
    assert(spark.read.format("graftbackup").load(root).count() == 6L)
  }
}
