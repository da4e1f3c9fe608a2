package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

import graft.SparkTestBase

/** Streaming checkpoint files of a graft session go through
  * [[WriteFsCheckpointFileManager]]: local paths through the in-process
  * filesystem with Spark's rename contract, any other path through the
  * manager Spark picks by default. */
class CheckpointFilesSpec extends SparkTestBase {
  import spark.implicits._

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def crcOf(p: java.nio.file.Path): java.nio.file.Path =
    p.resolveSibling(s".${p.getFileName}.crc")

  private def manager(dir: java.nio.file.Path): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri),
      spark.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("the session names the manager; a local path gets the in-process " +
    "filesystem") {
    val fm = manager(Files.createTempDirectory("graft_ckpt_local"))
    assert(fm.isInstanceOf[WriteFsCheckpointFileManager])
    assert(fm.asInstanceOf[WriteFsCheckpointFileManager].served
      .isInstanceOf[LocalCheckpointFiles])
    assert(fm.isLocal)
  }

  test("a value already set is kept") {
    val conf = new Configuration(false)
    conf.set(WriteFsCheckpointFileManager.ClassKey, "some.Manager")
    WriteFsCheckpointFileManager.select(conf)
    assert(conf.get(WriteFsCheckpointFileManager.ClassKey) == "some.Manager")
  }

  test("a checkpoint file, its .crc sidecar and a new directory get the " +
    "modes FileSystem.getLocal gives the same objects") {
    val dir = Files.createTempDirectory("graft_ckpt_modes")
    val fm = manager(dir)
    val offsets = dir.resolve("offsets")
    fm.mkdirs(new Path(offsets.toUri))
    val file = offsets.resolve("0")
    write(fm, new Path(file.toUri), "v1", overwrite = false)
    assert(Files.exists(crcOf(file)), "the .crc sidecar is kept")

    val local = FileSystem.newInstanceLocal(spark.sparkContext.hadoopConfiguration)
    val ref = Files.createTempDirectory("graft_ckpt_ref").resolve("offsets")
    try {
      assert(local.mkdirs(new Path(ref.toUri)))
      local.create(new Path(ref.resolve("0").toUri), true).close()
    } finally local.close()
    assert(mode(file) == mode(ref.resolve("0")))
    assert(mode(crcOf(file)) == mode(crcOf(ref.resolve("0"))))
    assert(mode(offsets) == mode(ref))
    // only the file and its sidecar: no temp file is left behind
    assert(Files.list(offsets).count() == 2)
  }

  test("a cancelled createAtomic leaves no file") {
    val dir = Files.createTempDirectory("graft_ckpt_cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.resolve("1").toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(Files.list(dir).count() == 0)
  }

  test("overwrite replaces the file and its sidecar; without it, an " +
    "existing file fails the rename and stays") {
    val dir = Files.createTempDirectory("graft_ckpt_rename")
    val fm = manager(dir)
    val p = new Path(dir.resolve("2").toUri)
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, "second", overwrite = false)
    }
    assert(read(fm, p) == "first")
    write(fm, p, "third, longer", overwrite = true)
    // read through the checksumming filesystem: the sidecar moved too
    assert(read(fm, p) == "third, longer")
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".tmp")).filterNot(_.endsWith(".tmp.crc"))
      .toSet == Set("2", ".2.crc"))
  }

  test("a scheme only the session conf binds gets Spark's default manager") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val implKey = s"fs.${SessionOnlyFileSystem.Scheme}.impl"
    val cacheKey = s"fs.${SessionOnlyFileSystem.Scheme}.impl.disable.cache"
    hconf.set(implKey, classOf[SessionOnlyFileSystem].getName)
    hconf.setBoolean(cacheKey, true)
    try {
      val p = new Path(SessionOnlyFileSystem.Scheme + "://" +
        Files.createTempDirectory("graft_ckpt_session").toString)
      val fm = CheckpointFileManager.create(p, hconf)
      assert(fm.isInstanceOf[WriteFsCheckpointFileManager])
      // no FileContext binds the scheme, so Spark falls back to its
      // FileSystem-based manager
      val default = {
        val c = new Configuration(hconf)
        c.unset(WriteFsCheckpointFileManager.ClassKey)
        CheckpointFileManager.create(p, c)
      }
      assert(default.getClass == classOf[FileSystemBasedCheckpointFileManager])
      assert(fm.asInstanceOf[WriteFsCheckpointFileManager].served.getClass ==
        default.getClass)
      val f = new Path(p, "0")
      write(fm, f, "x", overwrite = false)
      assert(fm.exists(f) && read(fm, f) == "x")
    } finally {
      hconf.unset(implKey)
      hconf.unset(cacheKey)
    }
  }

  test("a query checkpointed under Spark's default manager resumes under " +
    "this one with exactly-once intact") {
    val dir = Files.createTempDirectory("graft_ckpt_resume")
    val src = dir.resolve("src").toString
    val out = dir.resolve("out").toString
    val t0 = Instant.parse("2024-03-01T00:00:00Z")
    val types = Seq("click", "view", "buy")
    def land(from: Int, n: Int): Unit =
      (from until from + n).map(i =>
        (i.toLong, types(i % 3), Timestamp.from(t0.plusSeconds(i * 60L))))
        .toDF("event_id", "event_type", "ts")
        .write.format("graftbackup").mode("append")
        .option("partitionColumns", "event_type").option("timeColumn", "ts")
        .save(src)
    def run(session: SparkSession, ckpt: java.nio.file.Path): Unit = {
      val q = session.readStream.format("graftbackup").load(src)
        .select($"event_id", $"event_type", $"ts".cast("timestamp").as("ts"))
        .writeStream.format("graftbackup")
        .option("partitionColumns", "event_type").option("timeColumn", "ts")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start(out)
      try q.processAllAvailable() finally q.stop()
    }

    val legacy = spark.newSession()
    legacy.conf.set(WriteFsCheckpointFileManager.ClassKey,
      classOf[FileContextBasedCheckpointFileManager].getName)
    val ckpt = dir.resolve("ckpt")
    assert(CheckpointFileManager.create(new Path(ckpt.toUri),
      legacy.sessionState.newHadoopConf())
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    land(0, 300)
    run(legacy, ckpt)

    // the crash window: the epoch is published, its commit entry lost.
    // The restart reads a copy, as a restarted driver would with a cold
    // metadata-log cache (see StreamingChaosSpec's s22 case).
    val commits = ckpt.resolve("commits")
    val lost = Files.list(commits).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(lost)
    Files.deleteIfExists(crcOf(lost))
    val ckpt2 = dir.resolve("ckpt2")
    Files.walk(ckpt).iterator().asScala.foreach { p =>
      val dest = ckpt2.resolve(ckpt.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest)
    }
    land(300, 300)
    run(spark, ckpt2)

    val ids = spark.read.format("graftbackup").load(out)
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 600L), "rows lost or duplicated across the resume")
    // the resumed run logged its epochs next to the copied ones
    val entries = Files.list(ckpt2.resolve("commits")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(entries.contains(lost.getFileName.toString) &&
      entries.contains(crcOf(lost).getFileName.toString))
    assert(Paths.get(ckpt2.toString, "offsets").toFile.list().length >
      Paths.get(ckpt.toString, "offsets").toFile.list().length)
  }
}
