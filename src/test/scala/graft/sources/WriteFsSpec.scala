package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkTestBase

/** Connector writes set file and directory modes in-process on the
  * plain local filesystem, with the modes Hadoop's own local filesystem
  * gives the same objects, and leave every other filesystem alone. */
class WriteFsSpec extends SparkTestBase {
  import spark.implicits._

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def crcOf(p: java.nio.file.Path): java.nio.file.Path =
    p.resolveSibling(s".${p.getFileName}.crc")

  test("local paths get the in-process permission filesystem") {
    val fs = WriteFs.forPath(new Path(Files.createTempDirectory("graft_wfs")
      .toString), spark.sparkContext.hadoopConfiguration)
    assert(WriteFs.innermost(fs).isInstanceOf[NioPermissionFileSystem])
  }

  test("the sink's chunk, its .crc sidecar and a new leaf directory get " +
    "the modes FileSystem.getLocal gives the same objects") {
    val t0 = Instant.parse("2024-03-01T00:00:00Z")
    val root = Files.createTempDirectory("graft_wfs_sink").resolve("out")
    Seq((1L, "click", Timestamp.from(t0)), (2L, "view", Timestamp.from(t0)))
      .toDF("event_id", "event_type", "ts")
      .write.format("graftbackup").mode("overwrite")
      .option("partitionColumns", "event_type").option("timeColumn", "ts")
      .save(root.toString)
    val leaf = root.resolve("event_type=click").resolve("date_dir=20240301")
    val chunk = Files.list(leaf).filter(!_.getFileName.toString
      .startsWith(".")).findFirst().get()
    assert(Files.exists(crcOf(chunk)), "the chunk's .crc sidecar is kept")

    val hconf = spark.sparkContext.hadoopConfiguration
    val local = FileSystem.getLocal(hconf)
    val ref = Files.createTempDirectory("graft_wfs_ref")
    val refLeaf = ref.resolve("event_type=click").resolve("date_dir=20240301")
    assert(local.mkdirs(new Path(refLeaf.toUri)))
    val refFile = refLeaf.resolve("chunk.log.gz")
    local.create(new Path(refFile.toUri), true).close()
    assert(Files.exists(crcOf(refFile)))

    assert(mode(chunk) == mode(refFile))
    assert(mode(crcOf(chunk)) == mode(crcOf(refFile)))
    assert(mode(leaf) == mode(refLeaf))
    assert(mode(leaf.getParent) == mode(refLeaf.getParent))
  }

  test("modes follow the caller's conf: its umask applies") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", "077")
    val dir = Files.createTempDirectory("graft_wfs_umask")
    val fs = WriteFs.forPath(new Path(dir.toUri), conf)
    val file = dir.resolve("a").resolve("f")
    fs.create(new Path(file.toUri), true).close()
    val umask = FsPermission.getUMask(conf)
    assert(mode(file) == FsPermission.getFileDefault.applyUMask(umask).toString)
    assert(mode(file.getParent) ==
      FsPermission.getDirDefault.applyUMask(umask).toString)
    assert(mode(file) == "rw-------" && mode(file.getParent) == "rwx------")
  }

  test("a sticky-bit mode takes Hadoop's own path") {
    val dir = Files.createTempDirectory("graft_wfs_sticky").resolve("d")
    val fs = WriteFs.forPath(new Path(dir.toUri),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.mkdirs(new Path(dir.toUri)))
    fs.setPermission(new Path(dir.toUri), new FsPermission(
      Integer.parseInt("1750", 8).toShort))
    // NIO cannot set the sticky bit; only Hadoop's chmod sets 01000
    val unixMode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
    assert((unixMode & Integer.parseInt("7777", 8)) ==
      Integer.parseInt("1750", 8), f"mode $unixMode%o")
    // and the plain modes still land through NIO
    fs.setPermission(new Path(dir.toUri), new FsPermission(
      Integer.parseInt("0705", 8).toShort))
    assert(mode(dir) == "rwx---r-x")
  }

  test("a rename never replaces an existing file") {
    val dir = Files.createTempDirectory("graft_wfs_rename")
    val fs = WriteFs.forPath(new Path(dir.toUri),
      spark.sparkContext.hadoopConfiguration)
    val a = new Path(dir.resolve("a").toUri)
    val b = new Path(dir.resolve("b").toUri)
    fs.create(a, true).close()
    val out = fs.create(b, true); out.write(7); out.close()
    assert(!fs.rename(a, b))
    assert(Files.size(Paths.get(b.toUri)) == 1 && fs.exists(a))
    assert(fs.delete(b, false) && fs.rename(a, b) && !fs.exists(a))
  }

  test("a scheme only the session conf binds comes back unchanged") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val implKey = s"fs.${SessionOnlyFileSystem.Scheme}.impl"
    val cacheKey = s"fs.${SessionOnlyFileSystem.Scheme}.impl.disable.cache"
    hconf.set(implKey, classOf[SessionOnlyFileSystem].getName)
    hconf.setBoolean(cacheKey, true)
    try {
      val p = new Path(SessionOnlyFileSystem.Scheme + "://" +
        Files.createTempDirectory("graft_wfs_session").toString)
      val fs = WriteFs.forPath(p, hconf)
      assert(fs.getClass == classOf[SessionOnlyFileSystem])
    } finally {
      hconf.unset(implKey)
      hconf.unset(cacheKey)
    }
  }
}
