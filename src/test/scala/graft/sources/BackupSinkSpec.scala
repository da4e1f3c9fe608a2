package graft.sources

import java.nio.file.Files
import java.util.zip.CRC32

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** The graftbackup DSv2 WRITE path: on-disk contract (dir layout, chunk
  * naming, CRC of compressed bytes), rotation bound, save-mode
  * semantics, null partitions, and read-side roundtrip. */
class BackupSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_sink_spec").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/out"
  }

  private def events = Tables.events(spark, sf0001)
    .select($"event_id", $"ts", $"user_id", $"event_type", $"value")

  private def writeEvents(dir: String, mode: String = "overwrite",
                          extra: Map[String, String] = Map.empty): Unit = {
    var w = events.write.format("graftbackup").mode(mode)
      .option("partitionColumns", "event_type")
      .option("timeColumn", "ts")
    extra.foreach { case (k, v) => w = w.option(k, v) }
    w.save(dir)
  }

  test("roundtrip: DSv2-written backup reads back row-identical " +
    "through the DSv2 reader") {
    val dir = freshDir()
    writeEvents(dir)
    val back = spark.read.format("graftbackup").load(dir)
    assert(back.count() == events.count())
    // event_id is unique — join back and compare every decoded field
    val src = events.select($"event_id", $"user_id", $"event_type",
      date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"), $"value")
    val got = back.select($"event_id", $"user_id", $"event_type",
      $"ts".as("ts_s"), $"value")
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
      "roundtrip rows differ")
  }

  test("on-disk contract: hive dirs, chunk names carry true min/max " +
    "event time and the CRC32 of the file bytes") {
    val dir = freshDir()
    writeEvents(dir)
    val root = new java.io.File(dir)
    // underscore-prefixed dirs are sink metadata (the manifest record
    // log, streaming commit markers) — hidden-name convention, skipped
    // by every reader
    val parts = root.listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith("_"))
    assert(parts.nonEmpty && parts.forall(_.startsWith("event_type=")))
    val chunkName =
      raw"(\d{8}T\d{6}Z)_(\d{8}T\d{6}Z)_([0-9a-f]{8})(-\d+)?\.log\.gz".r
    // hidden .crc sidecars are the local ChecksumFileSystem's, not ours
    val chunks = root.listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.isDirectory)
      .flatMap(_.listFiles())
      .filter(f => f.isFile && !f.getName.startsWith("."))
    assert(chunks.nonEmpty)
    chunks.foreach { f =>
      f.getName match {
        case chunkName(from, to, crcHex, _) =>
          val bytes = Files.readAllBytes(f.toPath)
          val crc = new CRC32(); crc.update(bytes)
          assert(f"${crc.getValue}%08x" == crcHex,
            s"${f.getName}: name CRC != file CRC")
          // the named window matches the decoded content
          val tss = chunkLines(f).map(l =>
            "\"ts\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1))
          def nameFmt(s: String) =
            s.substring(0, 10).replace("-", "") + "T" +
              s.substring(11, 19).replace(":", "") + "Z"
          assert((nameFmt(tss.min), nameFmt(tss.max)) == ((from, to)),
            s"${f.getName}: window != content")
        case other => fail(s"unexpected chunk file name $other")
      }
    }
  }

  /** Decode one gz-NDJSON chunk to its lines (test-side, no Spark). */
  private def chunkLines(f: java.io.File): Seq[String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(f)),
      java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
    finally in.close()
  }

  test("rotation: maxRecordsPerChunk bounds every chunk, rows conserved") {
    val dir = freshDir()
    writeEvents(dir, extra = Map("maxRecordsPerChunk" -> "100"))
    val perFile = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.isDirectory)
      .flatMap(_.listFiles())
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => f.getName -> chunkLines(f).size.toLong)
    assert(perFile.map(_._2).sum == events.count())
    assert(perFile.forall(_._2 <= 100),
      s"oversize chunk: ${perFile.filter(_._2 > 100).toSeq}")
  }

  test("required ordering: chunk lines are newest-first and a leaf's " +
    "chunks cover disjoint time ranges") {
    val dir = freshDir()
    writeEvents(dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val leaves = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.isDirectory)
    assert(leaves.nonEmpty)
    leaves.foreach { leaf =>
      val chunks = leaf.listFiles().filter(_.getName.endsWith(".log.gz"))
      val ranges = chunks.map { f =>
        val r = BackupSource.open(f.getAbsolutePath,
          spark.sparkContext.hadoopConfiguration)
        val ts = Iterator.continually(r.readLine()).takeWhile(_ != null)
          .map(l => mapper.readTree(l).get("ts").asText()).toVector
        r.close()
        // RequiresDistributionAndOrdering sorts each task's rows by
        // (partCols, ts desc): within one chunk the formatted
        // timestamps must be non-increasing
        assert(ts == ts.sorted.reverse,
          s"chunk ${f.getName} is not newest-first")
        (ts.last, ts.head) // (min, max), fixed-width strings
      }
      // desc-sorted input + rotation ⇒ one leaf's chunks tile disjoint
      // (possibly touching) ranges: sort by max desc, then each
      // chunk's min must be >= the next chunk's max
      val sorted = ranges.sortBy(_._2).reverse
      sorted.sliding(2).foreach {
        case Array((lo1, _), (_, hi2)) =>
          assert(lo1 >= hi2,
            s"overlapping chunk ranges in ${leaf.getName}: $lo1 < $hi2")
        case _ => ()
      }
    }
  }

  test("task abort leaves no published chunks: staged files are " +
    "dropped, the root stays clean") {
    val dir = freshDir()
    val sch = events.schema
    val cfg = BackupSink.Config(dir, Seq("event_type"), "ts",
      gzip = true, maxRows = 1000, truncate = false, zone = "UTC",
      queryId = "abortspec",
      hadoop = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val writer = new BackupDataWriter(cfg, sch, partitionId = 0, taskId = 7L)
    val rows = events.limit(20).queryExecution.toRdd
      .map(_.copy()).collect()
    rows.foreach(writer.write)
    writer.abort()
    // nothing published, and the aborted task's staging files are gone
    val root = new java.io.File(dir)
    val published = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
    assert(published.isEmpty, "abort must not publish partition dirs")
    val staged = new java.io.File(s"$dir/_staging_abortspec")
    val stagedFiles = Option(staged.listFiles()).getOrElse(Array.empty)
      .filter(!_.getName.startsWith("."))
    assert(stagedFiles.isEmpty,
      s"aborted staging files remain: ${stagedFiles.map(_.getName).toSeq}")
  }

  test("streaming epoch commit is idempotent: a replayed epoch drops " +
    "its staged chunks instead of publishing duplicates") {
    val dir = freshDir()
    val sch = events.schema
    val cfg = BackupSink.Config(dir, Seq("event_type"), "ts",
      gzip = true, maxRows = 1000, truncate = false, zone = "UTC",
      queryId = "epochspec",
      hadoop = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val sw = new BackupStreamingWrite(cfg, sch)
    def stageRows(taskId: Long) = {
      val w = new BackupDataWriter(cfg, sch, 0, taskId)
      events.limit(25).queryExecution.toRdd.map(_.copy()).collect()
        .foreach(w.write)
      w.commit()
    }
    sw.commit(5L, Array(stageRows(1L)))
    def publishedRows() = spark.read.format("graftbackup").load(dir).count()
    val afterFirst = publishedRows()
    assert(afterFirst == 25)
    assert(new java.io.File(s"$dir/_streaming_commits/epoch-5").exists())
    // recovery replays epoch 5: same rows staged again by a new attempt
    sw.commit(5L, Array(stageRows(2L)))
    assert(publishedRows() == afterFirst,
      "replayed epoch must not duplicate rows")
    // a NEW epoch still publishes
    sw.commit(6L, Array(stageRows(3L)))
    assert(publishedRows() == afterFirst + 25)
  }

  test("crash between publish and marker: the replayed epoch rolls back " +
    "the intent-listed chunks and republishes exactly once") {
    val dir = freshDir()
    val sch = events.schema
    val cfg = BackupSink.Config(dir, Seq("event_type"), "ts",
      gzip = true, maxRows = 10, truncate = false, zone = "UTC",
      queryId = "crashspec",
      hadoop = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val sw = new BackupStreamingWrite(cfg, sch)
    def stageRows(taskId: Long) = {
      val w = new BackupDataWriter(cfg, sch, 0, taskId)
      events.limit(25).queryExecution.toRdd.map(_.copy()).collect()
        .foreach(w.write)
      w.commit()
    }
    // ATTEMPT A: stage, plan, write the intent, publish only PART of the
    // plan, then "crash" (no final marker). This is exactly the window
    // the round-8 advisor flagged: publish() done or half-done, marker
    // absent.
    val msgA = stageRows(1L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = new org.apache.hadoop.fs.Path(dir)
    val planned = BackupSink.planDestinations(fs, rootPath, cfg,
      msgA.asInstanceOf[BackupSink.TaskChunks].chunks)
    assert(planned.size > 1, "need >1 chunk to model a partial publish")
    val commits = new org.apache.hadoop.fs.Path(rootPath,
      "_streaming_commits")
    fs.mkdirs(commits)
    val intent = new org.apache.hadoop.fs.Path(commits, "epoch-9.intent")
    val out = fs.create(intent, true)
    out.write(planned.map(_.toString).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    // partial publish: first chunk reaches its destination, rest don't
    val first = msgA.asInstanceOf[BackupSink.TaskChunks].chunks.head
    fs.mkdirs(planned.head.getParent)
    assert(fs.rename(new org.apache.hadoop.fs.Path(first.stagedPath),
      planned.head))
    assert(spark.read.format("graftbackup").load(dir).count() > 0,
      "the half-published chunk is visible before recovery")
    // ATTEMPT B (recovery): Spark re-runs the epoch's tasks and
    // re-commits the same epochId
    sw.commit(9L, Array(stageRows(2L)))
    assert(spark.read.format("graftbackup").load(dir).count() == 25,
      "recovery must yield the epoch's rows exactly once")
    assert(fs.exists(new org.apache.hadoop.fs.Path(commits, "epoch-9")))
    assert(!fs.exists(intent), "intent must be promoted away")
    // and a replay AFTER successful recovery is still idempotent
    sw.commit(9L, Array(stageRows(3L)))
    assert(spark.read.format("graftbackup").load(dir).count() == 25)
  }

  test("distributed publish torn write: rename job ran, driver died " +
    "before the marker — replay yields the epoch exactly once") {
    // Same window as the test above, but through the DISTRIBUTED rename
    // path (more than 1000 chunks fill more than one rename slice, which
    // ships the renames as a Spark job, BackupSink.publish): the chunk
    // count forces the job, the "crash" lands after the job fully ran
    // but before the intent->marker promotion — the widest torn window
    // the r10 rewrite
    // introduced. Recovery must roll back every intent-listed chunk
    // (all of them exist this time) and republish the re-staged attempt
    // exactly once: no duplicate rows, no missing rows, no stray files.
    val dir = freshDir()
    val sch = events.schema
    val cfg = BackupSink.Config(dir, Seq("event_type"), "ts",
      gzip = true, maxRows = 1, truncate = false, zone = "UTC",
      queryId = "distcrash",
      hadoop = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val sw = new BackupStreamingWrite(cfg, sch)
    // one row per chunk; the fixture has 1000 events, so a shifted copy
    // supplies the rest
    val nRows = 1001
    val rows = events.union(events.withColumn("event_id",
        ($"event_id" + 1000000).cast(sch("event_id").dataType))).limit(nRows)
      .queryExecution.toRdd.map(_.copy()).collect()
    def stageRows(taskId: Long) = {
      val w = new BackupDataWriter(cfg, sch, 0, taskId)
      rows.foreach(w.write)
      w.commit()
    }
    val msgA = stageRows(1L)
    val chunksA = msgA.asInstanceOf[BackupSink.TaskChunks].chunks
    assert(chunksA.size > 1000 && spark.sparkContext.defaultParallelism > 1,
      s"need >1000 chunks over >1 slice to exercise the distributed " +
        s"rename job, got ${chunksA.size}")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = new org.apache.hadoop.fs.Path(dir)
    val planned = BackupSink.planDestinations(fs, rootPath, cfg, chunksA)
    val commits = new org.apache.hadoop.fs.Path(rootPath,
      "_streaming_commits")
    fs.mkdirs(commits)
    val intent = new org.apache.hadoop.fs.Path(commits, "epoch-11.intent")
    val out = fs.create(intent, true)
    out.write(planned.map(_.toString).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    // the FULL distributed publish runs (rename job over all chunks)...
    BackupSink.publish(fs, rootPath, cfg, Array(msgA),
      planned = Some(planned)): Unit
    // ...then the driver dies: no marker, intent left behind
    assert(spark.read.format("graftbackup").load(dir).count() == nRows,
      "attempt A's chunks are all on disk before recovery")
    // recovery: tasks re-stage, the epoch re-commits
    sw.commit(11L, Array(stageRows(2L)))
    assert(spark.read.format("graftbackup").load(dir).count() == nRows,
      "recovery must yield the epoch's rows exactly once")
    assert(fs.exists(new org.apache.hadoop.fs.Path(commits, "epoch-11")))
    assert(!fs.exists(intent), "intent must be promoted away")
    // every chunk is attempt B's: attempt A planned the same names, so
    // rollback+republish must leave exactly planned.size data files
    val files = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
      .flatMap(_.listFiles()).filter(_.isDirectory).flatMap(_.listFiles())
      .filter(f => f.isFile && !f.getName.startsWith("."))
    assert(files.length == planned.size,
      s"expected ${planned.size} chunk files, found ${files.length}")
    // replay after successful recovery stays idempotent
    sw.commit(11L, Array(stageRows(3L)))
    assert(spark.read.format("graftbackup").load(dir).count() == nRows)
  }

  test("save modes: append accumulates, overwrite truncates") {
    val dir = freshDir()
    writeEvents(dir)
    val n = events.count()
    writeEvents(dir, mode = "append")
    assert(spark.read.format("graftbackup").load(dir).count() == 2 * n)
    writeEvents(dir) // overwrite
    assert(spark.read.format("graftbackup").load(dir).count() == n)
    // staging is cleaned up
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_staging")), "staging left behind")
  }

  test("null partition value lands in __HIVE_DEFAULT_PARTITION__ and " +
    "reads back as NULL") {
    val dir = freshDir()
    events.withColumn("event_type",
      when($"event_id" % 10 === 0, lit(null)).otherwise($"event_type"))
      .write.format("graftbackup").mode("overwrite")
      .option("partitionColumns", "event_type")
      .option("timeColumn", "ts").save(dir)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.contains("event_type=__HIVE_DEFAULT_PARTITION__"))
    val back = spark.read.format("graftbackup").load(dir)
    assert(back.filter($"event_type".isNull).count() ==
      events.filter($"event_id" % 10 === 0).count())
  }

  test("an append merges into the stamp: Backup.run's coveredTo " +
    "survives a plain append and incremental resumes after it") {
    val dir = freshDir()
    val mid = java.time.Instant.parse("2024-01-15T00:00:00Z")
    graft.operators.Backup.run(spark, graft.config.BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = dir,
      timeColumn = "ts", partitionColumn = "event_type",
      from = java.time.Instant.parse("2024-01-05T00:00:00Z"), to = mid))
    // rows inside the covered window, appended without the operator
    events.filter($"ts" < lit("2024-01-10 00:00:00").cast("timestamp") &&
        $"event_type".isNotNull).limit(10)
      .write.format("graftbackup").mode("append")
      .option("partitionColumns", "event_type")
      .option("timeColumn", "ts").save(dir)
    assert(BackupMeta.read(dir).flatMap(_.coveredTo).contains(mid))
    val to = java.time.Instant.parse("2024-01-25T00:00:00Z")
    graft.operators.Backup.incremental(spark, s"$sf0001/events.parquet",
      dir, to)
    assert(BackupMeta.read(dir).flatMap(_.coveredTo).contains(to))
  }

  test("timezone meta stamp is written so Restore's guard applies to " +
    "connector backups") {
    val dir = freshDir()
    writeEvents(dir)
    val meta = new String(Files.readAllBytes(
      new java.io.File(dir, "_GRAFT_META.json").toPath))
    assert(meta.contains("\"sessionTimeZone\":\"UTC\""))
    assert(meta.contains("\"timeColumn\":\"ts\""))
  }
}
