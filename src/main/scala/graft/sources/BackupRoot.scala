package graft.sources

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.{DateTimeFormatter, DateTimeParseException}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

// The backup root's on-disk contract: the root's stamp (BackupMeta) and
// the chunk file name (ChunkName). README.md, "The backup root's on-disk
// contract", says which operation sets each stamp field.

/** The root's `_GRAFT_META.json` stamp: the write session's zone
  * (faithful backups render timestamps as zone-less local strings, so
  * [[graft.operators.Restore]] refuses another zone), the time and
  * partition columns a write without options recovers, the window end
  * [[graft.operators.Backup.incremental]] resumes from, and the schema
  * a catalog `CREATE TABLE` declared. */
final case class BackupMeta(sessionTimeZone: String, timeColumn: String,
                            partitionColumns: Seq[String],
                            coveredTo: Option[Instant] = None,
                            createSchema: Option[StructType] = None)

object BackupMeta {
  /** Underscore-prefixed: every Spark reader skips it as hidden. */
  val FileName = "_GRAFT_META.json"

  private val Mapper = new ObjectMapper()

  /** The zone a stamp written by this session records. */
  def sessionZone(spark: SparkSession): String =
    spark.conf.getOption("spark.sql.session.timeZone")
      .getOrElse(java.util.TimeZone.getDefault.getID)

  /** The stamp at `root`, read with the session's Hadoop conf; None when
    * the root has none. A stamp that does not parse throws
    * `IllegalStateException` naming its path. */
  def read(root: String): Option[BackupMeta] = {
    val p = new Path(root, FileName)
    read(p.getFileSystem(HadoopConfs.active()), p)
  }

  private def read(fs: FileSystem, p: Path): Option[BackupMeta] = {
    val in = try fs.open(p) catch { case _: FileNotFoundException => return None }
    try Some(fromJson(Mapper.readTree(in)))
    catch {
      case NonFatal(e) => throw new IllegalStateException(
        s"malformed backup stamp $p: ${e.getMessage}", e)
    } finally in.close()
  }

  /** Sets the stamp at `root` to `f` of the current one (None when
    * absent); writes nothing when `f` changes nothing. The content goes
    * to a dot-temp name, which then replaces the stamp by delete and
    * rename (a rename never replaces a file on HDFS or [[WriteFs]]), so
    * no reader parses a half-written stamp. */
  def write(fs: FileSystem, root: Path)(f: Option[BackupMeta] => BackupMeta)
      : Unit = {
    val p = new Path(root, FileName)
    val old = read(fs, p)
    val next = f(old)
    if (old.contains(next)) return
    val tmp = new Path(root,
      s".$FileName.${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(toJson(next).getBytes(UTF_8)) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"cannot write backup stamp $p")
    }
  }

  private def fromJson(n: JsonNode): BackupMeta = {
    require(n != null && n.isObject, "not a JSON object")
    def text(field: String): Option[String] = Option(n.get(field)).map { v =>
      require(v.isTextual, s"'$field' is not a string")
      v.asText()
    }
    def required(field: String): String =
      text(field).getOrElse(throw new IllegalArgumentException(
        s"missing '$field'"))
    BackupMeta(required("sessionTimeZone"), required("timeColumn"),
      // comma-joined: single- and multi-column layouts alike
      required("partitionColumn").split(",").map(_.trim).filter(_.nonEmpty)
        .toSeq,
      text("coveredTo").map(Instant.parse),
      text("createSchema").map(DataType.fromJson(_).asInstanceOf[StructType]))
  }

  private def toJson(m: BackupMeta): String = {
    val o = Mapper.createObjectNode()
      .put("sessionTimeZone", m.sessionTimeZone)
      .put("timeColumn", m.timeColumn)
      .put("partitionColumn", m.partitionColumns.mkString(","))
    m.coveredTo.foreach(t => o.put("coveredTo", t.toString))
    m.createSchema.foreach(s => o.put("createSchema", s.json))
    Mapper.writeValueAsString(o)
  }
}

/** A parsed chunk file name, `<from>_<to>_<crc32>[-n].log[.gz]` (the
  * reference's naming, `cmd/backup.go:309-321`). `from` and `to` are the
  * second-floored min and max of the chunk's time column, stamped
  * `yyyyMMdd'T'HHmmss'Z'` in the writing session's zone (the `Z` is a
  * literal); `crc32` is the 8-hex CRC32 of the file's bytes; `-n`
  * separates duplicate-content names in one leaf. `fromMicros` and
  * `toMicros` are the stamps as naive-local micros. */
final case class ChunkName(from: String, to: String, crc32: String,
                           fromMicros: Long, toMicros: Long) {
  /** [from, to + 1 s): holds every row's naive-local micros. */
  def rangeMicros: (Long, Long) = (fromMicros, toMicros + 1000000L)
}

object ChunkName {
  // `_n` (a legacy finalize pass) and upper-case hex are read too
  private val Grammar =
    """(\d{8}T\d{6}Z)_(\d{8}T\d{6}Z)_([0-9a-fA-F]{8})(?:[-_]\d+)?\.log(?:\.gz)?""".r
  private val StampFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")

  /** One stamp: the instant `micros` in `zone`, floored to seconds. */
  def stamp(micros: Long, zone: ZoneId): String =
    StampFmt.withZone(zone).format(Instant.EPOCH.plusNanos(micros * 1000L))

  /** `<from>_<to>_<crc32>`: the name of a chunk whose time column spans
    * [fromMicros, toMicros], before [[fileName]] adds its suffix. */
  def format(fromMicros: Long, toMicros: Long, crc: Long,
             zone: ZoneId): String =
    s"${stamp(fromMicros, zone)}_${stamp(toMicros, zone)}_${f"$crc%08x"}"

  /** The file name of the `seq`-th chunk (from 0) with base `base`. */
  def fileName(base: String, seq: Int, gzip: Boolean): String =
    base + (if (seq > 0) s"-$seq" else "") + (if (gzip) ".log.gz" else ".log")

  /** None off the grammar or for an impossible date: such chunks are
    * never pruned, deleted or trusted by name. */
  def parse(name: String): Option[ChunkName] = name match {
    case Grammar(from, to, crc) =>
      try Some(ChunkName(from, to, crc, stampMicros(from), stampMicros(to)))
      catch { case _: DateTimeParseException => None }
    case _ => None
  }

  def naiveMicros(t: LocalDateTime): Long =
    t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000L

  private def stampMicros(s: String): Long =
    naiveMicros(LocalDateTime.parse(s, StampFmt))
}
