package graft.sources

import java.util.zip.{CRC32, CheckedOutputStream, GZIPOutputStream}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** Write side of the graftbackup DataSource V2 connector: produces the
  * SAME on-disk contract as the batch [[graft.operators.Backup]] sink
  * and the reference's uploader (`cmd/backup.go:258-331`) — Hive-style
  * `<partCol>=<v>/date_dir=<yyyyMMdd>/` directories holding gz-NDJSON
  * chunks named `<fromTS>_<toTS>_<crc32>.log.gz` — but as a first-class
  * `df.write.format("graftbackup")` path with exactly-once commit
  * semantics:
  *
  *  - **Task-side staging, driver-side publish.** Each DataWriter
  *    streams its rows straight into per-leaf gzip chunks under a
  *    hidden `_staging_<queryId>/` directory; the CRC32 of the
  *    COMPRESSED bytes (the reference checksums the uploaded gzip
  *    body) and the min/max event time accumulate as the bytes are
  *    written, so the final `<from>_<to>_<crc>` name is known the
  *    moment a chunk closes — no repair pass, no re-read of written
  *    bytes ever. [[graft.operators.Backup.run]] routes through this
  *    same path and reads the chunk list via [[BackupSink.takePublished]].
  *    Speculative/failed task attempts leave only staging garbage;
  *    `commit(messages)` publishes exactly the chunks of the winning
  *    attempts (Spark's commit coordinator arbitrates), then deletes
  *    the staging tree. At cluster scale the driver does O(#chunks)
  *    renames and zero row work.
  *  - **Rotation bound**: chunks rotate at `maxRecordsPerChunk`
  *    (default 1000 — the reference's page size, `cmd/backup.go:229`),
  *    so chunk memory is one gzip buffer per open leaf, not per row.
  *  - **Modes**: append adds chunks next to existing ones (collision
  *    names get a `-seq` suffix, as the batch finalizer does);
  *    overwrite (`SupportsTruncate`) clears existing partition
  *    directories first. Every commit merges its fields into the
  *    root's stamp ([[BackupMeta]], see [[BackupSink.writeMeta]]).
  *
  * Options: `partitionColumns` (comma-separated, required), `timeColumn`
  * (required — drives `date_dir` and chunk naming), `gzip` (default
  * true), `maxRecordsPerChunk` (default 1000). Partition columns and
  * the derived `date_dir` are directory metadata, not JSON fields, and
  * null JSON fields are omitted — both exactly as the read side
  * ([[BackupSource]]) expects.
  */
object BackupSink {
  val LineTsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  val DefaultMaxRecords = 1000

  final case class Config(root: String, partCols: Seq[String],
                          timeCol: String, gzip: Boolean, maxRows: Int,
                          truncate: Boolean, zone: String, queryId: String,
                          /** The SESSION's hadoop conf, serialized into
                            * every task writer — a fresh Configuration
                            * on an executor would drop object-store
                            * credentials/endpoints (advisor item). */
                          hadoop: org.apache.spark.util.SerializableConfiguration)
      extends Serializable {
    def stagingDir: String = s"$root/_staging_$queryId"
  }

  def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Line timestamps (and timestamp partition values): [[LineTsFmt]]
    * in the write's session zone. */
  def lineFormatter(zone: String): java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern(LineTsFmt)
      .withZone(java.time.ZoneId.of(zone))

  /** Renders microsecond timestamps in one zone as [[lineFormatter]]
    * and a `yyyyMMdd` formatter do, without a formatter call per value:
    * the zone offset is cached until the zone's next transition and the
    * date digits until the local day changes. Years outside 1–9999 take
    * the formatters. One per task writer (not thread-safe). */
  final class LineTimestamps(zone: java.time.ZoneId) {
    private val rules = zone.getRules
    private val lineFmt = lineFormatter(zone.getId)
    private val dayFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd").withZone(zone)
    // the offset holds on [offsetFrom, offsetTo), in epoch seconds
    private var offsetFrom = Long.MaxValue
    private var offsetTo = Long.MinValue
    private var offset = 0L
    private var day = Long.MinValue
    private var plainYear = false
    private var datePrefix = "" // yyyy-MM-dd and a space
    private var dayDigits = "" // yyyyMMdd

    /** The local epoch day of `micros`; moves the caches onto it. */
    def localDay(micros: Long): Long = {
      val secs = Math.floorDiv(micros, 1000000L)
      if (secs < offsetFrom || secs >= offsetTo) {
        val at = java.time.Instant.ofEpochSecond(secs)
        offset = rules.getOffset(at).getTotalSeconds.toLong
        val prev = rules.previousTransition(at.plusSeconds(1))
        val next = rules.nextTransition(at)
        offsetFrom = if (prev == null) Long.MinValue else prev.toEpochSecond
        offsetTo = if (next == null) Long.MaxValue else next.toEpochSecond
      }
      val d = Math.floorDiv(secs + offset, 86400L)
      if (d != day) {
        day = d
        val date = java.time.LocalDate.ofEpochDay(d)
        plainYear = date.getYear >= 1 && date.getYear <= 9999
        if (plainYear) {
          dayDigits = f"${date.getYear}%04d${date.getMonthValue}%02d" +
            f"${date.getDayOfMonth}%02d"
          datePrefix = f"${date.getYear}%04d-${date.getMonthValue}%02d-" +
            f"${date.getDayOfMonth}%02d "
        }
      }
      d
    }

    /** `yyyyMMdd` of the local day of `micros`. */
    def dayDir(micros: Long): String = {
      localDay(micros)
      if (plainYear) dayDigits
      else dayFmt.format(DateTimeUtils.microsToInstant(micros))
    }

    def append(sb: java.lang.StringBuilder, micros: Long): Unit = {
      val d = localDay(micros)
      if (!plainYear)
        sb.append(lineFmt.format(DateTimeUtils.microsToInstant(micros))): Unit
      else {
        val sod = (Math.floorDiv(micros, 1000000L) + offset - d * 86400L).toInt
        sb.append(datePrefix)
        digits(sb, sod / 3600, 2); sb.append(':')
        digits(sb, sod / 60 % 60, 2); sb.append(':')
        digits(sb, sod % 60, 2); sb.append('.')
        digits(sb, Math.floorMod(micros, 1000000L).toInt, 6)
      }
    }

    def format(micros: Long): String = {
      val sb = new java.lang.StringBuilder(26)
      append(sb, micros)
      sb.toString
    }

    private def digits(sb: java.lang.StringBuilder, v: Int, width: Int): Unit = {
      var div = 1
      var w = 1
      while (w < width) { div *= 10; w += 1 }
      while (div > 0) { sb.append(('0' + v / div % 10).toChar); div /= 10 }
    }
  }

  /** A partition value as its leaf directory names it, before path
    * escaping (null stays null). The task writer names directories with
    * it and [[graft.operators.Backup.run]]'s dry run keys its counts
    * with it, so both agree with the unescaped directory values. */
  def partitionValue(
      g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int, f: StructField,
      lineFmt: java.time.format.DateTimeFormatter): String =
    if (g.isNullAt(i)) null
    else f.dataType match {
      case StringType => g.getUTF8String(i).toString
      case LongType => g.getLong(i).toString
      case IntegerType => g.getInt(i).toString
      case TimestampType =>
        lineFmt.format(DateTimeUtils.microsToInstant(g.getLong(i)))
      case DateType => java.time.LocalDate.ofEpochDay(g.getInt(i)).toString
      case other => throw new IllegalArgumentException(
        s"unsupported partition column type $other for ${f.name}")
    }

  /** One published chunk: where it was staged and where it belongs.
    * `bytes` is the final on-disk size, counted by the task writer at
    * the lowest stream level — it rides the manifest record so batch
    * planning can size a scan without a per-file stat. */
  final case class StagedChunk(stagedPath: String, relDir: String,
                               baseName: String, rows: Long,
                               bytes: Long)
      extends Serializable

  final case class TaskChunks(chunks: Seq[StagedChunk])
      extends WriterCommitMessage

  /** A chunk after publish: its final path plus what the task already
    * knew (leaf dir, `<from>_<to>_<crc>` base name, row count, bytes).
    * This is
    * how the batch operator ([[graft.operators.Backup.run]]) learns its
    * [[graft.operators.Backup.ChunkInfo]] result WITHOUT re-reading a
    * single written byte — the DSv2 write API has no result channel, so
    * the batch commit parks the list in [[takePublished]]'s registry. */
  final case class PublishedChunk(path: String, relDir: String,
                                  baseName: String, rows: Long,
                                  bytes: Long)

  private val publishedByRoot =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[PublishedChunk]]()

  /** One-shot retrieval of the chunks the last BATCH commit on `root`
    * published (single-writer-per-root contract, same as append
    * monotonicity). */
  def takePublished(root: String): Seq[PublishedChunk] =
    Option(publishedByRoot.remove(root)).getOrElse(Nil)

  private[sources] def recordPublished(root: String,
                                       chunks: Seq[PublishedChunk]): Unit =
    publishedByRoot.put(root, chunks): Unit

  /** Publish: renames of staged files into their leaf directories,
    * collision `-seq` suffixes (shared by the batch commit and every
    * streaming epoch commit). The renames are packed ~1000 per slice
    * into at most `defaultParallelism` slices; one slice runs as a
    * driver loop, more than one (over 1000 chunks) ships as ONE Spark
    * job with executor-side filesystem clients, so a million-chunk
    * backup has no driver serial point of that many rename RPCs, while
    * a small commit pays no job. Name PLANNING stays driver-side either
    * way (it is a per-leaf in-memory set walk, and the streaming intent
    * marker needs the full list before the first rename). Renames are
    * idempotent per chunk (source gone + destination present = an
    * earlier attempt of the same task already did it), so rename-job
    * task retries cannot fail a half-renamed partition. Returns the
    * final location of every chunk. When `planned` destinations are
    * supplied (the streaming intent-marker path) they are used verbatim
    * — the marker must list exactly what publish will create. */
  def publish(fs: org.apache.hadoop.fs.FileSystem,
              rootPath: Path, cfg: Config,
              messages: Array[WriterCommitMessage],
              planned: Option[Seq[Path]] = None): Seq[PublishedChunk] = {
    val all = messages.toSeq.flatMap {
      case TaskChunks(chunks) => chunks
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    val dests = planned.getOrElse(planDestinations(fs, rootPath, cfg, all))
    require(dests.size == all.size,
      s"planned ${dests.size} destinations for ${all.size} chunks")
    val pairs = all.zip(dests)
    val session = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    // ~1000 renames per slice: enough to amortize task launch, few
    // enough that a straggling object-store client doesn't hold the
    // whole commit
    val slices = session.fold(1)(s => math.min(
      s.sparkContext.defaultParallelism, math.ceil(pairs.size / 1000.0).toInt))
    if (slices > 1) {
      val hconf = cfg.hadoop
      val work = pairs.map { case (c, dst) => (c.stagedPath, dst.toString) }
      session.get.sparkContext.parallelize(work, slices).foreachPartition { it =>
        var efs: FileSystem = null
        it.foreach { case (src, dstStr) =>
          val dst = new Path(dstStr)
          if (efs == null) efs = WriteFs.forPath(dst, hconf.value)
          renameIdempotent(efs, new Path(src), dst)
        }
      }
    } else {
      pairs.foreach { case (c, dst) =>
        renameIdempotent(fs, new Path(c.stagedPath), dst)
      }
    }
    pairs.map { case (c, dst) =>
      PublishedChunk(dst.toString, c.relDir, c.baseName, c.rows, c.bytes)
    }
  }

  /** mkdirs + rename, treating "source gone, destination present" as an
    * earlier attempt's success (retry idempotence for the distributed
    * publish job). */
  private def renameIdempotent(fs: FileSystem, src: Path, dst: Path): Unit = {
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst)) {
      val alreadyDone = !fs.exists(src) && fs.exists(dst)
      if (!alreadyDone)
        throw new java.io.IOException(
          s"cannot publish chunk $src -> $dst" +
            (if (fs.exists(dst)) " (destination already exists)" else ""))
    }
  }

  /** Choose collision-free destination names for every staged chunk
    * BEFORE any rename happens: the usual `<base>.log.gz` name, with a
    * `-seq` suffix ([[ChunkName.fileName]]) where an identical name
    * already exists on disk (a previous append of duplicate content) or
    * is taken by another chunk of this same commit. Driver cost is one listStatus per AFFECTED
    * leaf directory plus an in-memory set walk — it scales with leaf
    * count, not chunk count (the per-chunk exists() probe it replaces
    * was O(#chunks) driver RPCs). Because the full list exists before
    * the first rename, the streaming commit can persist it as an
    * intent marker and make the publish replayable (see
    * [[BackupStreamingWrite.commit]]). */
  def planDestinations(fs: org.apache.hadoop.fs.FileSystem,
                       rootPath: Path, cfg: Config,
                       chunks: Seq[StagedChunk]): Seq[Path] = {
    val taken = mutable.HashMap.empty[String, mutable.HashSet[String]]
    chunks.map(_.relDir).distinct.foreach { rel =>
      val names = mutable.HashSet.empty[String]
      try {
        val sts = fs.listStatus(new Path(rootPath, rel))
        if (sts != null) sts.foreach(st => names += st.getPath.getName)
      } catch { case _: java.io.FileNotFoundException => () }
      taken(rel) = names
    }
    chunks.map { c =>
      val names = taken(c.relDir)
      var seq = 0
      var name = ChunkName.fileName(c.baseName, seq, cfg.gzip)
      while (names.contains(name)) {
        seq += 1
        if (seq > 1000) throw new java.io.IOException(
          s"cannot find a free name for chunk ${c.stagedPath}")
        name = ChunkName.fileName(c.baseName, seq, cfg.gzip)
      }
      names += name
      new Path(new Path(rootPath, c.relDir), name)
    }
  }

  /** The §1.2 type lattice the NDJSON line encoder covers: every JSON-
    * representable scalar leaf plus arbitrary-depth struct/array/map
    * nesting (the reference's recursive Datum lattice,
    * `helpers/helpers.go:16-60` — arrays of rows, rows of timeseries
    * maps, …). Map keys must render as JSON field names. */
  def encodable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | BooleanType | StringType | TimestampType |
         TimestampNTZType | DateType => true
    case _: DecimalType => true
    case StructType(fields) => fields.forall(f => encodable(f.dataType))
    case ArrayType(et, _) => encodable(et)
    case MapType(kt, vt, _) => keyEncodable(kt) && encodable(vt)
    case _ => false
  }

  private def keyEncodable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         StringType | TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  /** Sink-published manifest log (r14 verdict #1): every successful
    * commit appends one record file under `<root>/_manifest/` listing
    * the RELATIVE paths (`<relDir>/<chunkName>`) of exactly the chunks
    * it published. The streaming tail
    * ([[BackupMicroBatchStream.tailLeaves]]) serves offsets from this
    * log when it exists — O(new records) per trigger on ANY filesystem,
    * including object stores where directory mtimes are synthetic and
    * the r14 leaf cache is soundly disabled (there a manifest-less tail
    * re-lists the whole tree every trigger: ~14 s measured at the
    * 800 k-chunk decade).
    *
    * Why the log is complete (forward from its creation): every publish
    * path funnels through [[BackupBatchWrite.commit]] or
    * [[BackupStreamingWrite.commit]], and both record what they
    * published — batch right after the renames (a crash between publish
    * and record orphans exactly the chunks of a FAILED job, which a
    * re-run re-publishes under collision-suffixed names with its own
    * record — the orphans are the duplicate rows a reader should not
    * see anyway); streaming right after the marker promote, with a
    * replay-repair in the marked-epoch path (re-writes a missing record
    * from the marker's own path list, so a crash between promote and
    * record write heals on the replay Structured Streaming guarantees
    * in that window). Chunks that predate the log are covered by the
    * tail's one-time reconcile walk, and a batch OVERWRITE deletes the
    * log with the data directories it resets.
    *
    * DELETIONS invalidate an append-only log, so every mutating
    * maintenance path (retention pruning, DELETE WHERE / TRUNCATE)
    * DROPS the whole log after removing chunks — a future tail then
    * reconciles from the walk (directory truth) and the next commit's
    * record resumes the incremental stream. A LIVE tail across a
    * mutation stays unsupported with or without the manifest (the
    * count-prefix offsets shift) — that contract is unchanged.
    *
    * Records are written to a dot-prefixed temp name and renamed in
    * (readers skip dot/underscore names), so a half-written record is
    * never parsed. Past [[ManifestCompactThreshold]] record files the
    * batch commit folds the log into one `c-` record (write the union
    * FIRST, then delete the inputs — a concurrent reader between the
    * two sees duplicates, which the tail's per-leaf name sets absorb). */
  val ManifestDir = "_manifest"
  val ManifestCompactThreshold = 256

  /** Record line format: `<relDir>/<chunkName>` optionally followed by
    * a TAB and the chunk's on-disk byte size (v2, written by every sink
    * commit — sizes let batch planning and scan statistics run with NO
    * per-file stat; the replay-repair path, which only has the marker's
    * path list, writes -1 = unknown and readers stat exactly those). */
  def manifestLine(rel: String, bytes: Long): String = s"$rel\t$bytes"

  /** (relPath, bytes or -1) of a record line; tolerates v1 lines. */
  def parseManifestLine(line: String): (String, Long) = {
    val t = line.indexOf('\t')
    if (t < 0) (line, -1L)
    else (line.substring(0, t),
      try line.substring(t + 1).toLong catch { case _: NumberFormatException => -1L })
  }

  /** Completeness stamp: present iff the record log has existed since
    * the root last became empty (fresh target or truncate), i.e. EVERY
    * chunk on disk has a record. Batch planning may serve from the log
    * alone only under this stamp; the streaming tail doesn't need it
    * (its one-time reconcile walk covers pre-log chunks). Dropped with
    * the log by every mutating maintenance path. */
  val ManifestCompleteStamp = "_COMPLETE"

  def writeCompleteStamp(fs: FileSystem, rootPath: Path): Unit = {
    val p = new Path(new Path(rootPath, ManifestDir), ManifestCompleteStamp)
    fs.mkdirs(p.getParent)
    if (!fs.exists(p)) { val o = fs.create(p, true); o.close() }
  }

  def hasCompleteStamp(fs: FileSystem, rootPath: Path): Boolean =
    try fs.exists(new Path(new Path(rootPath, ManifestDir),
      ManifestCompleteStamp))
    catch { case _: java.io.IOException => false }

  /** Does the root hold any partition data directory yet? (One
    * listStatus — the freshness test for the completeness stamp,
    * checked BEFORE a commit publishes.) */
  def rootHasData(fs: FileSystem, rootPath: Path): Boolean =
    try Option(fs.listStatus(rootPath)).getOrElse(Array.empty)
      .exists(st => st.isDirectory && st.getPath.getName.contains("="))
    catch { case _: java.io.FileNotFoundException => false }

  def manifestRecordFiles(fs: FileSystem, rootPath: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val dir = new Path(rootPath, ManifestDir)
    try fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_") &&
        n.endsWith(".list")
    } catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Root-relative form of an absolute chunk path (the streaming
    * marker's lines): the suffix after the root's URI path. None when
    * the path is not under the root (never written by this sink —
    * skipped rather than poisoning the record). */
  def relativizeChunk(rootPath: Path, absolute: String): Option[String] = {
    val rootStr = rootPath.toUri.getPath.stripSuffix("/")
    val pathPart = new Path(absolute).toUri.getPath
    // prefix match only: "/other/data/x" is NOT under root "/data",
    // and "/data2/x" is not either (the separator check below)
    if (pathPart.startsWith(rootStr + "/")) {
      val rel = pathPart.substring(rootStr.length).stripPrefix("/")
      if (rel.nonEmpty) Some(rel) else None
    } else None
  }

  /** Append one record file atomically (temp + rename). `name` must be
    * unique per commit (batch uses time+uuid; streaming uses the epoch,
    * whose re-creation on replay-repair is idempotent). */
  def writeManifestRecord(fs: FileSystem, rootPath: Path, name: String,
                          relPaths: Seq[String]): Unit = {
    if (relPaths.isEmpty) return
    val dir = new Path(rootPath, ManifestDir)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".tmp-$name-${java.util.UUID.randomUUID()
      .toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(relPaths.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(dir, s"$name.list")
    if (!fs.rename(tmp, dst)) {
      // destination already present (replay-repair race): keep it
      fs.delete(tmp, false): Unit
      if (!fs.exists(dst))
        throw new java.io.IOException(s"cannot write manifest record $dst")
    }
  }

  /** Fold the record log when it has grown past the threshold: one
    * union record replaces all current ones. Driver-side, O(#records +
    * #entries) text I/O, amortized over commits. */
  def maybeCompactManifest(fs: FileSystem, rootPath: Path): Unit = {
    val records = manifestRecordFiles(fs, rootPath)
    if (records.size <= ManifestCompactThreshold) return
    val entries = scala.collection.mutable.LinkedHashSet.empty[String]
    records.foreach { st =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(st.getPath), java.nio.charset.StandardCharsets.UTF_8))
      try {
        var line = in.readLine()
        while (line != null) {
          if (line.nonEmpty) entries += line
          line = in.readLine()
        }
      } finally in.close()
    }
    writeManifestRecord(fs, rootPath,
      s"c-${System.currentTimeMillis()}", entries.toSeq)
    // union durable first; only then drop the inputs
    records.foreach(st => fs.delete(st.getPath, false): Unit)
  }

  /** Merges this write's zone, time and partition columns into the
    * root's stamp. `createSchema` survives every commit and `coveredTo`
    * every append; an overwrite drops `coveredTo`, whose data it
    * replaced. An unchanged stamp is not rewritten. */
  def writeMeta(fs: FileSystem, rootPath: Path, cfg: Config): Unit =
    BackupMeta.write(fs, rootPath) { old =>
      BackupMeta(cfg.zone, cfg.timeCol, cfg.partCols,
        old.flatMap(_.coveredTo).filterNot(_ => cfg.truncate),
        old.flatMap(_.createSchema))
    }
}

class BackupWriteBuilder(schema: StructType, options: java.util.Map[String, String])
    extends WriteBuilder with SupportsTruncate {
  import BackupSink._

  private def opt(k: String): Option[String] = {
    // CaseInsensitiveStringMap lower-cases keys
    val m = options
    Option(m.get(k)).orElse(Option(m.get(k.toLowerCase)))
  }

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val root = opt("path").getOrElse(
      throw new IllegalArgumentException("graftbackup write requires a path"))
    val partCols = opt("partitionColumns").getOrElse(
      throw new IllegalArgumentException(
        "graftbackup write requires option partitionColumns"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val timeCol = opt("timeColumn").getOrElse(
      throw new IllegalArgumentException(
        "graftbackup write requires option timeColumn"))
    partCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"partition column $c missing from write schema " +
          schema.fieldNames.mkString("[", ",", "]"))
    }
    require(schema.fieldNames.contains(timeCol),
      s"time column $timeCol missing from write schema")
    require(schema(timeCol).dataType == TimestampType,
      s"time column $timeCol must be TIMESTAMP, is ${schema(timeCol).dataType}")
    // fail fast on types the NDJSON line encoder does not cover
    schema.fields.foreach { f =>
      require(BackupSink.encodable(f.dataType),
        s"graftbackup cannot encode column ${f.name} of type ${f.dataType}")
    }
    val zone = BackupMeta.sessionZone(SparkSession.active)
    val cfg = Config(root, partCols, timeCol,
      gzip = opt("gzip").forall(_.toBoolean),
      maxRows = opt("maxRecordsPerChunk").map(_.toInt)
        .getOrElse(DefaultMaxRecords),
      truncate = doTruncate, zone = zone,
      queryId = java.util.UUID.randomUUID().toString.take(8),
      hadoop = new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration))
    new BackupBatchWrite(cfg, schema)
  }
}

class BackupBatchWrite(cfg: BackupSink.Config, schema: StructType)
    extends Write with BatchWrite with RequiresDistributionAndOrdering {
  import BackupSink._

  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graftbackup ${cfg.root}, partitionBy=[${cfg.partCols.mkString(",")}]" +
      s", timeColumn=${cfg.timeCol}"

  /** Distribution stays UNSPECIFIED on purpose: requiring a cluster on
    * the partition columns would funnel each hot partition value into
    * ONE task (the classic dynamic-partition-write skew trap) — the
    * writer already handles interleaved leaves with one open gzip per
    * leaf. What we DO require is a per-task sort: partition columns
    * first (so a task's rows for one leaf arrive contiguously — open
    * chunks collapse to one at a time, bounding writer memory at one
    * gzip buffer regardless of leaf fan-in), then the time column
    * DESCENDING (the reference's newest-first page order,
    * `cmd/backup.go:240-248`, and what makes each chunk's
    * `<from>_<to>` name a TIGHT envelope — consecutive chunks of a
    * leaf cover disjoint time ranges, which is what the read side's
    * zone-map skipping feeds on). A local sort costs no shuffle. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    (cfg.partCols.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)) :+
      Expressions.sort(Expressions.column(cfg.timeCol),
        SortDirection.DESCENDING)).toArray
  }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new BackupWriterFactory(cfg, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = WriteFs.forPath(new Path(cfg.root), cfg.hadoop.value)
    val rootPath = new Path(cfg.root)
    // first, so a malformed stamp fails the commit before any change
    BackupSink.writeMeta(fs, rootPath, cfg)
    if (cfg.truncate) {
      // overwrite: clear existing partition directories (and stale
      // staging trees from dead queries), keep this query's staging
      Option(fs.listStatus(rootPath)).getOrElse(Array.empty).foreach { st =>
        if (st.isDirectory && st.getPath.getName != s"_staging_${cfg.queryId}")
          fs.delete(st.getPath, true): Unit
      }
    }
    // completeness test BEFORE publish creates the data dirs: a fresh
    // or just-truncated root means the record log covers everything
    // from here on, so batch planning may trust it alone
    val fresh = cfg.truncate || !BackupSink.rootHasData(fs, rootPath)
    val published = BackupSink.publish(fs, rootPath, cfg, messages)
    // manifest record: what this commit published, as relative paths
    // with sizes (the streaming tail serves offsets from these, batch
    // planning serves files AND statistics — see ManifestDir)
    BackupSink.writeManifestRecord(fs, rootPath,
      s"b-${System.currentTimeMillis()}-${cfg.queryId}",
      published.map(p => BackupSink.manifestLine(
        s"${p.relDir}/${new Path(p.path).getName}", p.bytes)))
    if (fresh) BackupSink.writeCompleteStamp(fs, rootPath)
    BackupSink.maybeCompactManifest(fs, rootPath)
    BackupSink.recordPublished(cfg.root, published)
    fs.delete(new Path(cfg.stagingDir), true): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = WriteFs.forPath(new Path(cfg.root), cfg.hadoop.value)
    fs.delete(new Path(cfg.stagingDir), true): Unit
  }

  /** Micro-batch streaming variant of this write (see
    * [[BackupStreamingWrite]]). */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new BackupStreamingWrite(cfg, schema)
}

/** STREAMING write into the reference chunk layout —
  * `df.writeStream.format("graftbackup")` without the foreachBatch
  * detour (s16's shape): task writers stage per-epoch chunks exactly
  * like the batch path, and the driver publishes on epoch commit.
  *
  * Exactly-once across FAILURES, not just attempts: Structured
  * Streaming may re-run and re-commit an epoch after recovery, so each
  * successful epoch leaves a `_streaming_commits/epoch-<n>` marker
  * under the root; a re-commit of a marked epoch discards its staged
  * files instead of publishing duplicates. The publish itself is made
  * crash-replayable with a two-phase marker: the commit first writes
  * `epoch-<n>.intent` listing the exact destination paths it is about
  * to create (names are planned driver-side before the first rename —
  * [[BackupSink.planDestinations]]), then renames, then promotes the
  * intent to the final marker. A driver crash anywhere inside that
  * window leaves the intent behind, and the replayed commit deletes
  * every path the intent lists (published or not) before publishing
  * the re-staged chunks fresh — so a half-published epoch can never
  * land duplicate rows. (One streaming writer per backup root — the
  * marker namespace is the root itself, matching the sink's
  * append-monotonicity contract which already assumes a single
  * appender.) Aborted epochs drop exactly their own staged files;
  * staging is shared across in-flight epochs so nothing else is
  * touched. */
class BackupStreamingWrite(cfg: BackupSink.Config, schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import BackupSink._

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory =
    new BackupStreamingWriterFactory(cfg, schema)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val fs = WriteFs.forPath(new Path(cfg.root), cfg.hadoop.value)
    val rootPath = new Path(cfg.root)
    val marker = new Path(rootPath, s"_streaming_commits/epoch-$epochId")
    val intent = new Path(rootPath,
      s"_streaming_commits/epoch-$epochId.intent")
    if (fs.exists(marker)) {
      // replayed epoch after recovery: its rows are already on disk.
      // Replay-repair for the manifest: if the crash fell between the
      // marker promote and the record write, re-derive the record from
      // the marker's own path list (idempotent — writeManifestRecord
      // keeps an existing destination).
      if (!fs.exists(new Path(rootPath,
          s"${ManifestDir}/epoch-$epochId.list"))) {
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(marker), java.nio.charset.StandardCharsets.UTF_8))
        val paths = scala.collection.mutable.ArrayBuffer.empty[String]
        try {
          var line = in.readLine()
          while (line != null) {
            if (line.nonEmpty) paths += line
            line = in.readLine()
          }
        } finally in.close()
        writeManifestRecord(fs, rootPath, s"epoch-$epochId",
          paths.toSeq.flatMap(p => relativizeChunk(rootPath, p))
            .map(manifestLine(_, -1L))) // sizes unknown from the marker
      }
      messages.foreach {
        case TaskChunks(chunks) => chunks.foreach(c =>
          fs.delete(new Path(c.stagedPath), false): Unit)
        case _ => ()
      }
    } else {
      // freshness test BEFORE any rename of this epoch (see the batch
      // commit): first-epoch-into-empty-root stamps completeness. A
      // crashed first epoch leaves its half-published dirs behind and
      // conservatively skips the stamp — batch planning then walks,
      // which is correct, just not accelerated.
      val freshRoot = !rootHasData(fs, rootPath)
      if (fs.exists(intent)) {
        // a previous attempt crashed mid-publish: roll back exactly the
        // chunks it planned (those renamed before the crash exist; the
        // rest are no-op deletes), then publish this attempt's staging
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(intent), java.nio.charset.StandardCharsets.UTF_8))
        try {
          var line = in.readLine()
          while (line != null) {
            if (line.nonEmpty) fs.delete(new Path(line), false): Unit
            line = in.readLine()
          }
        } finally in.close()
        fs.delete(intent, false): Unit
      }
      val chunks = messages.toSeq.flatMap {
        case TaskChunks(cs) => cs
        case other => throw new IllegalStateException(s"unexpected $other")
      }
      val dests = planDestinations(fs, rootPath, cfg, chunks)
      fs.mkdirs(intent.getParent)
      val out = fs.create(intent, true)
      try out.write(dests.map(_.toString).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      publish(fs, rootPath, cfg, messages, planned = Some(dests)): Unit
      writeMeta(fs, rootPath, cfg)
      // promote: the rename is the commit point — marker present means
      // fully published, intent present means roll back and redo
      if (!fs.rename(intent, marker))
        throw new java.io.IOException(
          s"cannot promote $intent to $marker")
      // manifest record AFTER the promote: a crash before the promote
      // rolls the chunks back (no record must exist for them — and none
      // does); a crash after the promote but before this write heals in
      // the replayed commit's repair path above
      writeManifestRecord(fs, rootPath, s"epoch-$epochId",
        chunks.zip(dests).map { case (c, d) =>
          manifestLine(s"${c.relDir}/${d.getName}", c.bytes) })
      if (freshRoot) writeCompleteStamp(fs, rootPath)
      // streaming-only roots must fold their record log too, or a
      // long-lived stream grows it one file per epoch forever
      maybeCompactManifest(fs, rootPath)
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val fs = WriteFs.forPath(new Path(cfg.root), cfg.hadoop.value)
    messages.foreach {
      case TaskChunks(chunks) => chunks.foreach(c =>
        fs.delete(new Path(c.stagedPath), false): Unit)
      case _ => ()
    }
  }
}

class BackupStreamingWriterFactory(cfg: BackupSink.Config,
                                   schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new BackupDataWriter(cfg, schema, partitionId, taskId)
}

class BackupWriterFactory(cfg: BackupSink.Config, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new BackupDataWriter(cfg, schema, partitionId, taskId)
}

/** Streams rows into per-leaf gzip chunks. One open chunk per leaf
  * directory at a time; rotation at cfg.maxRows. CRC32 wraps the FILE
  * stream (compressed bytes), min/max event time tracked as longs —
  * the final name needs no second pass over the data.
  */
class BackupDataWriter(cfg: BackupSink.Config, schema: StructType,
                       partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  import BackupSink._

  private val fs: FileSystem = WriteFs.forPath(new Path(cfg.root), cfg.hadoop.value)
  private val partIdx: Seq[(StructField, Int)] =
    cfg.partCols.map(c => schema(c) -> schema.fieldIndex(c))
  private val timeIdx: Int = schema.fieldIndex(cfg.timeCol)
  private val dataFields: Seq[(StructField, Int)] = schema.fields.zipWithIndex
    .filter { case (f, _) => !cfg.partCols.contains(f.name) }.toSeq

  private val zone = java.time.ZoneId.of(cfg.zone)
  private val lineFmt = lineFormatter(cfg.zone)
  private val lineTs = new LineTimestamps(zone)

  /** Counts final on-disk bytes below the CRC/gzip chain, so the
    * manifest record can carry sizes and batch planning never needs a
    * per-file stat. */
  private final class CountingOutputStream(under: java.io.OutputStream)
      extends java.io.FilterOutputStream(under) {
    var count = 0L
    override def write(b: Int): Unit = { under.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      under.write(b, off, len); count += len
    }
  }

  private final class Chunk(val relDir: String) {
    val staged = new Path(
      s"${cfg.stagingDir}/t${partitionId}_${taskId}_$chunkSeq")
    private val crc = new CRC32()
    private val counter = new CountingOutputStream(fs.create(staged, true))
    private val checked = new CheckedOutputStream(counter, crc)
    private val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(
        if (cfg.gzip) new GZIPOutputStream(checked) else checked,
        java.nio.charset.StandardCharsets.UTF_8))
    var rows = 0L
    var minTs: Long = Long.MaxValue
    var maxTs: Long = Long.MinValue

    def write(line: String, tsMicros: Long): Unit = {
      out.write(line); out.write('\n')
      rows += 1
      if (tsMicros < minTs) minTs = tsMicros
      if (tsMicros > maxTs) maxTs = tsMicros
    }

    def finish(): StagedChunk = {
      out.close() // flushes gzip trailer through the CRC stream
      StagedChunk(staged.toString, relDir,
        ChunkName.format(minTs, maxTs, crc.getValue, zone), rows,
        counter.count)
    }
  }

  private var chunkSeq = 0
  private val open = mutable.LinkedHashMap.empty[String, Chunk]
  private val done = mutable.ArrayBuffer.empty[StagedChunk]

  private def escape(v: String): String =
    if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    else ExternalCatalogUtils.escapePathName(v)

  private type Getters =
    org.apache.spark.sql.catalyst.expressions.SpecializedGetters
  private type Encoder = (java.lang.StringBuilder, Getters, Int) => Unit

  /** Recursive NDJSON value encoder over the §1.2 lattice (the
    * reference's `helpers.go` recursion, Spark-side), built once per
    * type so a row pays no type dispatch or name escaping: scalars as
    * JSON scalars, structs as objects with null fields OMITTED (Spark's
    * `ignoreNullFields` convention, which the read side and [[
    * graft.operators.Restore]] already expect), arrays with null
    * elements KEPT (position is meaning), maps as objects with null
    * values kept. The getters are whatever container holds the value —
    * InternalRow and ArrayData share SpecializedGetters. */
  private def encoder(dt: DataType): Encoder = dt match {
    case LongType => (sb, g, i) => sb.append(g.getLong(i)): Unit
    case IntegerType => (sb, g, i) => sb.append(g.getInt(i)): Unit
    case ShortType => (sb, g, i) => sb.append(g.getShort(i).toInt): Unit
    case ByteType => (sb, g, i) => sb.append(g.getByte(i).toInt): Unit
    case DoubleType => (sb, g, i) => sb.append(g.getDouble(i)): Unit
    case FloatType => (sb, g, i) => sb.append(g.getFloat(i).toDouble): Unit
    case BooleanType => (sb, g, i) => sb.append(g.getBoolean(i)): Unit
    case d: DecimalType => (sb, g, i) =>
      sb.append(g.getDecimal(i, d.precision, d.scale)
        .toJavaBigDecimal.toPlainString): Unit
    case StringType => (sb, g, i) => sb.append('"')
      .append(jsonEscape(g.getUTF8String(i).toString)).append('"'): Unit
    case TimestampType => (sb, g, i) =>
      sb.append('"')
      lineTs.append(sb, g.getLong(i))
      sb.append('"'): Unit
    case TimestampNTZType => (sb, g, i) => sb.append('"')
      .append(java.time.LocalDateTime.ofInstant(
        DateTimeUtils.microsToInstant(g.getLong(i)), java.time.ZoneOffset.UTC)
        .format(ntzFmt))
      .append('"'): Unit
    case DateType => (sb, g, i) => sb.append('"')
      .append(java.time.LocalDate.ofEpochDay(g.getInt(i)).toString)
      .append('"'): Unit
    case st: StructType =>
      val obj = objectEncoder(st.fields.toSeq, Array.range(0, st.size))
      (sb, g, i) => obj(sb, g.getStruct(i, st.size))
    case ArrayType(et, _) =>
      val elem = encoder(et)
      (sb, g, i) =>
        val arr = g.getArray(i)
        sb.append('[')
        var j = 0
        while (j < arr.numElements()) {
          if (j > 0) sb.append(',')
          if (arr.isNullAt(j)) sb.append("null")
          else elem(sb, arr, j)
          j += 1
        }
        sb.append(']'): Unit
    case MapType(kt, vt, _) =>
      val value = encoder(vt)
      (sb, g, i) =>
        val m = g.getMap(i)
        val keys = m.keyArray(); val vals = m.valueArray()
        sb.append('{')
        var j = 0
        while (j < m.numElements()) {
          if (j > 0) sb.append(',')
          sb.append('"').append(jsonEscape(keyString(kt, keys, j)))
            .append("\":")
          if (vals.isNullAt(j)) sb.append("null")
          else value(sb, vals, j)
          j += 1
        }
        sb.append('}'): Unit
    case other => (_, _, _) => throw new IllegalArgumentException(
      s"graftbackup cannot encode value of type $other")
  }

  /** A JSON object over `fields`, read from the row ordinals `at`:
    * each name escaped once, null fields omitted. */
  private def objectEncoder(fields: Seq[StructField], at: Array[Int])
      : (java.lang.StringBuilder, InternalRow) => Unit = {
    val names = fields.map(f => "\"" + jsonEscape(f.name) + "\":").toArray
    val values = fields.map(f => encoder(f.dataType)).toArray
    (sb, row) => {
      sb.append('{')
      var first = true
      var j = 0
      while (j < at.length) {
        if (!row.isNullAt(at(j))) {
          if (!first) sb.append(',')
          first = false
          sb.append(names(j))
          values(j)(sb, row, at(j))
        }
        j += 1
      }
      sb.append('}'): Unit
    }
  }

  private def keyString(dt: DataType, g: Getters, i: Int): String = dt match {
    case StringType => g.getUTF8String(i).toString
    case LongType => g.getLong(i).toString
    case IntegerType => g.getInt(i).toString
    case ShortType => g.getShort(i).toString
    case ByteType => g.getByte(i).toString
    case BooleanType => g.getBoolean(i).toString
    case TimestampType => lineTs.format(g.getLong(i))
    case TimestampNTZType => java.time.LocalDateTime.ofInstant(
      DateTimeUtils.microsToInstant(g.getLong(i)), java.time.ZoneOffset.UTC)
      .format(ntzFmt)
    case DateType => java.time.LocalDate.ofEpochDay(g.getInt(i)).toString
    case other => throw new IllegalArgumentException(
      s"graftbackup cannot encode map key of type $other")
  }

  private val ntzFmt =
    java.time.format.DateTimeFormatter.ofPattern(LineTsFmt)

  // one line: the data fields (partition columns are directories)
  private val lineObject =
    objectEncoder(dataFields.map(_._1), dataFields.map(_._2).toArray)
  private val line = new java.lang.StringBuilder(128)

  private def jsonLine(row: InternalRow): String = {
    line.setLength(0)
    lineObject(line, row) // omit-null convention (read side expects it)
    line.toString
  }

  // the leaf of the previous row: its partition values (copied out of
  // the row), its local day and its directory, rebuilt only on a change
  private val leafValues = new Array[Any](partIdx.size)
  private var leafDay = Long.MinValue
  private var relDir: String = _
  private var current: Chunk = _

  private def leafChanged(row: InternalRow, day: Long): Boolean = {
    var changed = relDir == null || day != leafDay
    var j = 0
    while (!changed && j < partIdx.size) {
      val (f, i) = partIdx(j)
      changed = (if (row.isNullAt(i)) null else row.get(i, f.dataType)) !=
        leafValues(j)
      j += 1
    }
    if (changed) {
      leafDay = day
      partIdx.indices.foreach { j =>
        val (f, i) = partIdx(j)
        leafValues(j) = if (row.isNullAt(i)) null
          else InternalRow.copyValue(row.get(i, f.dataType))
      }
    }
    changed
  }

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(timeIdx),
      s"graftbackup write: null ${cfg.timeCol} cannot be chunk-named")
    val ts = row.getLong(timeIdx)
    if (leafChanged(row, lineTs.localDay(ts))) {
      relDir = (partIdx.map { case (f, i) =>
        s"${ExternalCatalogUtils.escapePathName(f.name)}=" +
          escape(partitionValue(row, i, f, lineFmt))
      } :+ s"date_dir=${lineTs.dayDir(ts)}").mkString("/")
      current = null
    }
    if (current == null) current =
      open.getOrElseUpdate(relDir, { chunkSeq += 1; new Chunk(relDir) })
    current.write(jsonLine(row), ts)
    if (current.rows >= cfg.maxRows) {
      done += current.finish()
      open.remove(relDir): Unit
      current = null
    }
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(c => done += c.finish())
    open.clear()
    TaskChunks(done.toSeq)
  }

  override def abort(): Unit = close()

  override def close(): Unit = {
    open.values.foreach { c =>
      try { fs.delete(c.staged, false): Unit } catch { case _: Exception => () }
    }
    open.clear()
  }
}
