package graft.operators

import java.util.zip.{CheckedInputStream, CRC32}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.config.BackupConfig
import graft.functions.Stringify
import graft.sources.{BackupMeta, BackupSink, BackupSource, ChunkName,
  HadoopConfs, WriteFs}

/** The reference's entire pipeline as ONE Catalyst-planned write.
  *
  * Reference shape (`cmd/backup.go`): phase-1 partition discovery
  * (`170-211`), then an unbounded goroutine per partition value each
  * re-querying the table (`229-342`), paging ≤1000 rows, gzipping NDJSON
  * in memory and uploading to
  * `db/tbl/<part>/<YYYYMMDD>/<fromTS>_<toTS>_<crc32>.log.gz` (`311-313`).
  *
  * Spark-first re-expression: a single scan → filter → per-task sort →
  * partitioned gzip-NDJSON write through the graftbackup DataSource V2
  * sink ([[graft.sources.BackupSink]]). Discovery, fan-out, paging,
  * counters and the error fold all disappear into the plan: task
  * parallelism replaces goroutines, the sink's `maxRecordsPerChunk`
  * rotation replaces paging, metrics replace mutex counters. The sink
  * itself requires only a per-task sort (partition columns, then time
  * desc), never a cluster-by, so a hot partition value can't funnel
  * into one task; [[run]] adds one repartition by leaf directory.
  *
  * The per-file `<fromTS>_<toTS>_<crc32>.log.gz` naming contract
  * ([[graft.sources.ChunkName]]) is computed TASK-SIDE as the bytes
  * stream (CRC32 wraps the compressed output stream, min/max event
  * time tracked per chunk) — no repair pass, no re-read of written
  * bytes; the driver's commit does O(#chunks) renames and hands the
  * chunk list back through
  * [[graft.sources.BackupSink.takePublished]].
  */
object Backup {

  final case class ChunkInfo(path: String, partition: String, date: String,
                             fromTs: String, toTs: String, crc32: String,
                             rows: Long)

  final case class Result(rowsPerPartition: Map[String, Long],
                          chunks: Seq[ChunkInfo])

  /** Phase-1 discovery as a plan fragment: distinct non-null partition
    * values in the window (`cmd/backup.go:170-211`). Small result —
    * callers may collect it or broadcast-semi-join it.
    */
  def discoverPartitions(df: DataFrame, cfg: BackupConfig): DataFrame =
    df.filter(timeWindow(cfg))
      .select(cfg.partCols.map(col): _*)
      .where(cfg.partCols.map(col(_).isNotNull).reduce(_ && _))
      .distinct()

  private def timeWindow(cfg: BackupConfig) =
    col(cfg.timeColumn) >= lit(java.sql.Timestamp.from(cfg.from)) &&
      col(cfg.timeColumn) <= lit(java.sql.Timestamp.from(cfg.to))

  /** The extraction+sink plan: ONE scan of the input, written through
    * the sink. `rowsPerPartition` is summed from the committed chunk
    * list the sink hands back, so a real run submits no job beyond the
    * write itself (publish adds a rename job only past 1000 chunks, see
    * [[graft.sources.BackupSink.publish]]). A dry run skips the write
    * and runs one aggregate job instead, keeping the count for effect
    * parity (`cmd/backup.go:102-105`); both key partitions the way the
    * sink names their directories. */
  def run(spark: SparkSession, cfg: BackupConfig,
          faithfulStrings: Boolean = false): Result = {
    val src = Tables.loadPath(spark, cfg.inputPath)
    val windowed = src.filter(timeWindow(cfg))
      .where(cfg.partCols.map(col(_).isNotNull).reduce(_ && _))
    if (cfg.dryRun) return Result(dryRunCounts(spark, windowed, cfg), Nil)

    // Faithful mode stringifies every leaf EXCEPT the partition columns
    // (directory metadata) and the time column — the sink derives
    // date_dir and the chunk-name envelope from it, so it must stay a
    // timestamp; its JSON rendering is still a string leaf (the sink's
    // fixed-width line format), preserving the reference's everything-
    // stringifies contract (`helpers/helpers.go:9`).
    val projected =
      if (faithfulStrings) {
        val keep = cfg.partCols.toSet + cfg.timeColumn
        val cols = windowed.schema.fields.toSeq.map { f =>
          if (keep(f.name)) col(f.name)
          else Stringify.expr(col(f.name), f.dataType).as(f.name)
        }
        windowed.select(cols: _*)
      } else windowed

    // Cluster the write by LEAF DIRECTORY (partition columns + the
    // sink's date_dir day, same session zone). The sink's required
    // per-task sort is (partCols asc, time desc), so co-locating each
    // leaf's rows in one task yields the EXACT chunk set a single-task
    // write produces (same per-dir row order → same maxRecords rolls →
    // same chunk names) while the gzip/JSON encode — the write's real
    // CPU — parallelizes across leaves. One writer per leaf also keeps
    // consecutive chunks time-disjoint (tight zone-map envelopes) and
    // the file count at O(leaves), not O(leaves × input tasks).
    projected
      .repartition(spark.sparkContext.defaultParallelism,
        cfg.partCols.map(col) :+ to_date(col(cfg.timeColumn)): _*)
      .write.format("graftbackup")
      .mode("overwrite")
      .option("partitionColumns", cfg.partCols.mkString(","))
      .option("timeColumn", cfg.timeColumn)
      .option("gzip", cfg.gzip.toString)
      .option("maxRecordsPerChunk", cfg.clampedRows.toString)
      .save(cfg.outputPath)

    // the overwrite's commit dropped coveredTo; stamp the window end
    // so incremental() can resume
    cover(spark, cfg.outputPath, cfg.to)
    val chunks = BackupSink.takePublished(cfg.outputPath)
      .map { p =>
        val dirs = p.relDir.split("/").map { seg =>
          val eq = seg.indexOf('=')
          seg.take(eq) -> org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(seg.drop(eq + 1))
        }.toMap
        val name = ChunkName.parse(new Path(p.path).getName)
        // per-column directory values joined with '/' (a single-column
        // layout keeps the bare value)
        ChunkInfo(p.path,
          cfg.partCols.map(c => dirs.getOrElse(c, null)).mkString("/"),
          dirs.getOrElse("date_dir", null), name.fold("")(_.from),
          name.fold("")(_.to), name.fold("")(_.crc32), p.rows)
      }
    Result(chunks.groupMapReduce(_.partition)(_.rows)(_ + _), chunks)
  }

  /** The dry run's rows per partition tuple: one aggregate job over the
    * window, keyed like [[ChunkInfo.partition]] (each column rendered
    * as the sink names its directory, joined with '/'). Metadata-sized
    * by the reference's own model, but guarded: a high-cardinality
    * partition column must not collect unbounded rows to the driver
    * (`cfg.maxCollectedPartitions`). */
  private def dryRunCounts(spark: SparkSession, windowed: DataFrame,
                           cfg: BackupConfig): Map[String, Long] = {
    val counted = windowed.groupBy(cfg.partCols.map(col): _*).count()
    val rows = counted.limit(cfg.maxCollectedPartitions + 1)
      .queryExecution.executedPlan.executeCollect()
    if (rows.length > cfg.maxCollectedPartitions)
      throw new IllegalStateException(
        s"partition columns ${cfg.partCols.mkString(",")} have more than " +
          s"${cfg.maxCollectedPartitions} distinct value tuples; raise " +
          "BackupConfig.maxCollectedPartitions if this is intended")
    val fields = counted.schema.fields.take(cfg.partCols.size)
    val fmt = BackupSink.lineFormatter(BackupMeta.sessionZone(spark))
    rows.map { r =>
      fields.indices.map(i => BackupSink.partitionValue(r, i, fields(i), fmt))
        .mkString("/") -> r.getLong(fields.length)
    }.toMap
  }

  /** Sets the stamp's `coveredTo` at `root` after a sink commit. */
  private def cover(spark: SparkSession, root: String,
                    to: java.time.Instant): Unit =
    BackupMeta.write(WriteFs.forPath(new Path(root),
      spark.sparkContext.hadoopConfiguration), new Path(root)) { m =>
      m.getOrElse(throw new IllegalStateException(
        s"the commit at $root left no ${BackupMeta.FileName}"))
        .copy(coveredTo = Some(to))
    }

  /** Incremental backup — resume an existing backup root up to `newTo`
    * WITHOUT re-reading or rewriting what's already there.
    *
    * The exact resume point is the stamp's `coveredTo`
    * ([[graft.sources.BackupMeta]], set by [[run]]): the increment is the
    * half-open window (coveredTo, newTo], so repeated incrementals
    * tile the timeline with no duplicates and no holes — chunk names
    * only floor to seconds, which is why the stamp, not the names, is
    * the resume authority (the names are cross-checked: a chunk
    * claiming data past coveredTo fails fast rather than risking
    * duplication). The increment ships through the DSv2 sink's APPEND
    * mode, whose later-window chunk names sort after every existing
    * name in a leaf — the append-monotonicity contract the streaming
    * tail ([[graft.sources.BackupMicroBatchStream]]) relies on.
    * Work is proportional to the increment: one filtered scan of the
    * source (time-range pushed to parquet), zero reads of the existing
    * backup beyond the one-line stamp.
    */
  def incremental(spark: SparkSession, inputPath: String, outputRoot: String,
                  newTo: java.time.Instant): Unit = {
    val meta = BackupMeta.read(outputRoot).getOrElse(
      throw new IllegalArgumentException(s"$outputRoot has no " +
        s"${BackupMeta.FileName} stamp — not an existing backup root"))
    require(meta.coveredTo.isDefined,
      s"${BackupMeta.FileName} at $outputRoot is missing 'coveredTo'")
    val coveredTo = meta.coveredTo.get
    require(coveredTo.isBefore(newTo),
      s"backup already covers $coveredTo >= $newTo — nothing to do")
    val tz = BackupMeta.sessionZone(spark)
    require(meta.sessionTimeZone == tz,
      s"backup was written in zone ${meta.sessionTimeZone}, session is $tz")

    // cross-check: no existing chunk name may claim data past coveredTo
    val coveredFloorMicros =
      coveredTo.getEpochSecond * 1000000L + coveredTo.getNano / 1000L
    BackupSource.layout(outputRoot)._2.foreach { leaf =>
      leaf.files.foreach { f =>
        val name = new Path(f).getName
        ChunkName.parse(name).foreach { n =>
          // the range end is exclusive and second-ceiled; data past
          // coveredTo exists only if it is > coveredTo + 1s
          require(n.rangeMicros._2 <= coveredFloorMicros + 1000000L,
            s"chunk $name extends past the coveredTo stamp ($coveredTo) " +
              "— stamp and data disagree, refusing to append")
        }
      }
    }

    val src = Tables.loadPath(spark, inputPath)
    val timeCol = meta.timeColumn
    src.filter(col(timeCol) > lit(java.sql.Timestamp.from(coveredTo)) &&
        col(timeCol) <= lit(java.sql.Timestamp.from(newTo)) &&
        meta.partitionColumns.map(col(_).isNotNull).reduce(_ && _))
      .write.format("graftbackup").mode("append")
      .option("partitionColumns", meta.partitionColumns.mkString(","))
      .option("timeColumn", timeCol)
      .save(outputRoot)
    cover(spark, outputRoot, newTo)
  }

  /** One chunk file's integrity verdict (see [[fsck]]). `rows` is −1
    * when the gzip stream would not decode. */
  final case class FsckRow(file: String, part: String, rows: Long,
                           readable: Boolean, crcOk: Boolean,
                           envelopeOk: Boolean)

  // the sink's line format, with the fraction optional
  private val LineTsFmt = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .optionalStart()
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 0, 9, true)
    .optionalEnd()
    .toFormatter()

  /** Backup FSCK — the audit the reference's chunk naming exists to
    * make possible (`cmd/backup.go:309-321`: the name CARRIES the CRC32
    * of the compressed bytes and the row min/max event time): re-derive
    * all three from the bytes on disk and report, per chunk, whether
    * the file still matches its own name. The chunks are packed into at
    * most `defaultParallelism` tasks (the rule `BackupSink.publish`
    * uses), all reading with the session's Hadoop conf, broadcast once.
    * Each chunk is read ONCE, streaming: the CRC32 is taken under the
    * gzip decoder, which yields rows + the envelope — so driver memory
    * is O(#chunks) verdict rows and no chunk is ever held in memory. An
    * unreadable (truncated/corrupt) gzip is a VERDICT here
    * (`readable = false`), not a crash: fsck's job is to report damage,
    * the read path's is to refuse it.
    *
    * Names off the chunk-name grammar ([[graft.sources.ChunkName]])
    * get `crcOk = envelopeOk = false` — a chunk that lost its name has
    * lost its integrity claim. The CRC compares case-insensitively. */
  def fsck(spark: SparkSession, root: String,
           partitionColumn: String): DataFrame = {
    val (_, leaves) = BackupSource.layout(root)
    val timeCol = BackupMeta.read(root).fold("ts")(_.timeColumn)
    val files: Seq[(String, String)] = leaves.flatMap(l =>
      l.files.map(f => (f, l.values.getOrElse(partitionColumn, null))))
    val sc = spark.sparkContext
    val conf = HadoopConfs.broadcast()
    val rdd = sc
      .parallelize(files,
        math.max(1, math.min(files.size, sc.defaultParallelism)))
      .mapPartitions { it =>
        val hconf = conf.value.value
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        it.map { case (path, partVal) =>
          fsckChunk(path, partVal, timeCol, hconf, mapper)
        }
      }
    spark.createDataFrame(rdd)
  }

  /** One chunk's verdict from one read of its bytes (see [[fsck]]). */
  private def fsckChunk(path: String, partVal: String, timeCol: String,
                        conf: org.apache.hadoop.conf.Configuration,
                        mapper: com.fasterxml.jackson.databind.ObjectMapper)
      : FsckRow = {
    val p = new Path(path)
    val crc = new CRC32()
    var rows = 0L
    var readable = true
    var crcComputed = false
    var minT: java.time.LocalDateTime = null
    var maxT: java.time.LocalDateTime = null
    val in =
      try new CheckedInputStream(p.getFileSystem(conf).open(p), crc)
      catch { case NonFatal(_) => null }
    if (in == null) { readable = false; rows = -1L }
    else {
      var r: java.io.BufferedReader = null
      try {
        r = BackupSource.reader(path, in)
        var line = r.readLine()
        while (line != null) {
          rows += 1
          val v = mapper.readTree(line).get(timeCol)
          if (v != null && !v.isNull) {
            val t = java.time.LocalDateTime.parse(v.asText(), LineTsFmt)
            if (minT == null || t.isBefore(minT)) minT = t
            if (maxT == null || t.isAfter(maxT)) maxT = t
          }
          line = r.readLine()
        }
      } catch {
        case NonFatal(_) => readable = false; rows = -1L
      }
      // The CRC must cover every byte the name claims, including those
      // after the point where decoding stopped or failed. A
      // transport-level checksum failure (Hadoop's own sidecar CRCs on
      // a corrupted local file) is itself a corruption VERDICT, not a
      // crash.
      try {
        val buf = new Array[Byte](64 * 1024)
        while (in.read(buf) >= 0) {}
        crcComputed = true
      } catch { case NonFatal(_) => }
      try { if (r != null) r.close() else in.close() }
      catch { case NonFatal(_) => }
    }
    def second(t: java.time.LocalDateTime) = ChunkName.naiveMicros(
      t.truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
    ChunkName.parse(p.getName) match {
      case Some(n) =>
        val crcOk =
          crcComputed && n.crc32.equalsIgnoreCase(f"${crc.getValue}%08x")
        val envOk = readable && minT != null &&
          second(minT) == n.fromMicros && second(maxT) == n.toMicros
        FsckRow(path, partVal, rows, readable, crcOk, envOk)
      case None =>
        FsckRow(path, partVal, rows, readable, crcOk = false,
          envelopeOk = false)
    }
  }

  /** Retention prune — delete every chunk whose NAME-claimed envelope
    * lies entirely before `cutoff`, without opening a single file: the
    * other half of what the reference's `<from>_<to>` naming buys
    * (r18's zone maps are the read side; this is the lifecycle side).
    * Strictly conservative: a chunk STRADDLING the cutoff survives
    * whole (per-row deletion would rewrite data; retention is a
    * metadata operation), and an unparseable name is never deleted —
    * the same soundness-over-pruning rule the zone maps follow. Names
    * floor to seconds, so "entirely before" means the envelope's
    * exclusive second-ceiling end ≤ cutoff. Emptied leaf directories
    * are removed. Returns the number of chunks deleted. */
  def retentionPrune(spark: SparkSession, root: String,
                     cutoff: java.time.Instant): Long = {
    val (_, leaves) = BackupSource.layout(root)
    val cutoffMicros = java.time.LocalDateTime
      .ofInstant(cutoff, java.time.ZoneOffset.UTC)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val fs = WriteFs.forPath(new Path(root),
      spark.sparkContext.hadoopConfiguration)
    var deleted = 0L
    leaves.foreach { l =>
      var left = l.files.size
      l.files.foreach { f =>
        ChunkName.parse(new Path(f).getName).foreach { n =>
          if (n.rangeMicros._2 <= cutoffMicros &&
              fs.delete(new Path(f), false)) { deleted += 1; left -= 1 }
        }
      }
      if (left == 0 && l.files.nonEmpty) {
        val dir = new Path(l.files.head).getParent
        // only the leaf dir itself, and only if truly empty now
        if (Option(fs.listStatus(dir)).forall(_.isEmpty))
          fs.delete(dir, false): Unit
      }
    }
    // deletions invalidate the append-only manifest record log (a
    // future tail's reconcile would plan the pruned chunks); drop it —
    // tails fall back to the walk and the next commit's record resumes
    // the incremental stream (BackupSink.ManifestDir).
    if (deleted > 0)
      fs.delete(new Path(root, BackupSink.ManifestDir), true): Unit
    deleted
  }
}
