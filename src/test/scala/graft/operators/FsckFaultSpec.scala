package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import java.util.zip.{CRC32, GZIPInputStream, GZIPOutputStream}

import graft.SparkTestBase
import graft.config.BackupConfig
import graft.sources.{BackupScan, ChunkName, PlannedChunks}

/** Fault verdicts of [[Backup.fsck]]'s single read per chunk: the CRC
  * covers every byte of a chunk whether or not it decodes. */
class FsckFaultSpec extends SparkTestBase {

  private def chunkFiles(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(new File(root)).filter(_.getName.endsWith(".log.gz"))
  }

  private def gunzip(bytes: Array[Byte]): String = {
    val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(bos)
    try out.write(s.getBytes(UTF_8)) finally out.close()
    bos.toByteArray
  }

  /** Replaces a chunk's bytes; drops its Hadoop checksum sidecar so the
    * verdict is fsck's own, not the transport's. */
  private def rewrite(f: File, bytes: Array[Byte], newName: String): File = {
    new File(f.getParentFile, s".${f.getName}.crc").delete(): Unit
    Files.write(f.toPath, bytes): Unit
    val to = new File(f.getParentFile, newName)
    assert(f.getName == newName || f.renameTo(to))
    to
  }

  test("truncated gzip and a malformed line under a matching CRC name") {
    val t0 = Instant.parse("2024-02-01T00:00:00Z")
    val rnd = new scala.util.Random(7)
    import spark.implicits._
    // random payloads keep the gzip large: many read buffers per chunk
    val rows = (0 until 4000).map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b",
        Timestamp.from(t0.plusSeconds(i.toLong)),
        Iterator.continually(rnd.nextPrintableChar())
          .filter(_.isLetterOrDigit).take(96).mkString)
    }
    val root = Files.createTempDirectory("graft_fsck_fault").toString
    // one writer task: each leaf's 2000 rows roll into two full chunks
    rows.toDF("event_id", "event_type", "ts", "payload").coalesce(1)
      .write.format("graftbackup").mode("overwrite")
      .option("partitionColumns", "event_type")
      .option("timeColumn", "ts")
      .option("maxRecordsPerChunk", "1000")
      .save(root)
    val chunks = chunkFiles(root)
    assert(chunks.size == 4)

    val truncatedFile = {
      val f = chunks(0)
      val bytes = Files.readAllBytes(f.toPath)
      rewrite(f, java.util.Arrays.copyOf(bytes, bytes.length / 2), f.getName)
    }
    val malformedFile = {
      val f = chunks(1)
      val lines = gunzip(Files.readAllBytes(f.toPath)).split("\n")
      lines(2) = lines(2).take(lines(2).length / 2)
      val bytes = gzip(lines.mkString("", "\n", "\n"))
      // the failure comes early: most bytes are read only by the drain
      assert(bytes.length > 4 * 8192, s"${bytes.length} bytes")
      val crc = new CRC32(); crc.update(bytes)
      val name = ChunkName.parse(f.getName).get
      rewrite(f, bytes, f"${name.from}_${name.to}_${crc.getValue}%08x.log.gz")
    }

    val verdicts = Backup.fsck(spark, root, "event_type").collect()
      .map(r => new File(r.getString(0)).getName ->
        (r.getLong(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
      .toMap
    assert(verdicts.size == 4)
    val (tRows, tReadable, tCrc, _) = verdicts(truncatedFile.getName)
    assert(tRows == -1L && !tReadable && !tCrc)
    val (mRows, mReadable, mCrc, _) = verdicts(malformedFile.getName)
    assert(mRows == -1L && !mReadable && mCrc,
      "a decode failure must not cut the CRC short")
    chunks.drop(2).foreach { f =>
      assert(verdicts(f.getName) == ((1000L, true, true, true)), f.getName)
    }
  }

  test("a -1 collision-suffixed chunk from a duplicate-content append " +
    "passes fsck and is pruned by its name's envelope") {
    import spark.implicits._
    val t0 = Instant.parse("2024-02-01T00:00:00Z")
    val rows = (0 until 20).map(i =>
      (i.toLong, "a", Timestamp.from(t0.plusSeconds(i.toLong))))
      .toDF("event_id", "event_type", "ts").coalesce(1)
    val root = Files.createTempDirectory("graft_fsck_dup").toString
    Seq("overwrite", "append").foreach { mode =>
      rows.write.format("graftbackup").mode(mode)
        .option("partitionColumns", "event_type")
        .option("timeColumn", "ts").save(root)
    }
    val names = chunkFiles(root).map(_.getName)
    assert(names.size == 2 && names.exists(_.endsWith("-1.log.gz")), names)
    assert(names.map(n => ChunkName.parse(n).get).distinct.size == 1,
      "identical content must give one name, the second suffixed")
    val verdicts = Backup.fsck(spark, root, "event_type").collect()
    assert(verdicts.length == 2 && verdicts.forall(r =>
      r.getLong(2) == 20L && r.getBoolean(3) && r.getBoolean(4) &&
        r.getBoolean(5)), verdicts.mkString("\n"))
    def planned(pred: String): Int = {
      val df = spark.read.format("graftbackup").load(root).filter(pred)
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          PlannedChunks(r.scan.asInstanceOf[BackupScan]
            .planInputPartitions()).length
      }.sum
    }
    assert(planned("ts >= '2024-02-01 00:00:10'") == 2)
    assert(planned("ts >= '2024-02-01 00:00:20'") == 0)
  }

  test("Backup.run's ChunkInfo carries the parse of each published name") {
    val root = Files.createTempDirectory("graft_fsck_info").toString
    val res = Backup.run(spark, BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = root,
      timeColumn = "ts", partitionColumn = "event_type",
      from = Instant.parse("2024-01-05T00:00:00Z"),
      to = Instant.parse("2024-01-12T00:00:00Z")))
    assert(res.chunks.nonEmpty)
    res.chunks.foreach { c =>
      val n = ChunkName.parse(new File(c.path).getName)
      assert(n.map(n => (n.from, n.to, n.crc32)) ==
        Some((c.fromTs, c.toTs, c.crc32)), c)
    }
    assert(res.chunks.map(c => new File(c.path).getName).sorted ==
      chunkFiles(root).map(_.getName).sorted)
  }
}
