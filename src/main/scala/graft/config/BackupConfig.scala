package graft.config

import java.time.Instant

/** Declarative description of one backup run — the Spark-side analogue of
  * the reference CLI's flag surface (`cmd/backup.go:34-93`):
  * database/table → input path; `--column` → partitionColumn; `--rows`
  * (clamped to 1000, `cmd/backup.go:213-217`) → maxRecordsPerFile;
  * `--dry-run` (`cmd/backup.go:102-105`) → dryRun.
  *
  * All resolution happens driver-side; the pipeline itself is a single
  * Catalyst-planned DataFrame write (see [[graft.operators.Backup]]).
  */
final case class BackupConfig(
    inputPath: String,
    outputPath: String,
    timeColumn: String = "ts",
    partitionColumn: String = "event_type",
    from: Instant,
    to: Instant,
    maxRowsPerChunk: Int = 1000,
    dryRun: Boolean = false,
    gzip: Boolean = true,
    /** Guard for the DRY RUN's per-partition counts collect: the
      * reference's model (one goroutine per partition value) assumes
      * few distinct values, but a high-cardinality partition column
      * would collect unbounded rows to the driver. Dry runs whose
      * distinct count exceeds this fail fast with a clear message
      * instead of OOMing the driver; raise it deliberately for wide
      * layouts. A real run collects nothing for its counts: it sums the
      * committed chunk list the driver already holds (at least one chunk
      * per partition value), so the guard does not run there. */
    maxCollectedPartitions: Int = 100000,
    /** Multi-column layout generalization of the reference's single
      * `--column` (`cmd/backup.go:59-64`): when non-empty this list
      * REPLACES `partitionColumn` and the backup nests one directory
      * level per column (outermost first), `date_dir` innermost — the
      * natural 100 TB layout when one dimension alone is too coarse to
      * prune on (e.g. tenant/event_type). Empty ⇒ the classic
      * single-column behavior. */
    partitionColumns: Seq[String] = Nil
) {
  require(from.isBefore(to), s"from=$from must be before to=$to")
  /** Reference clamps page size to 1000 (`cmd/backup.go:213-217`). */
  def clampedRows: Int = math.min(math.max(maxRowsPerChunk, 1), 1000)
  /** Effective partition column list (outermost directory first). */
  def partCols: Seq[String] =
    if (partitionColumns.nonEmpty) partitionColumns else Seq(partitionColumn)
}

object BackupConfig {
  /** Build from CLI-style string specs, resolving the time window with
    * the reference's anchoring rules (to before from).
    */
  def fromSpecs(inputPath: String, outputPath: String,
                fromSpec: Option[String], toSpec: Option[String],
                timeColumn: String = "ts",
                partitionColumn: String = "event_type",
                maxRows: Int = 1000, dryRun: Boolean = false,
                now: Instant = Instant.now()): Either[String, BackupConfig] =
    TimeWindows.resolve(fromSpec, toSpec, now).map { case (f, t) =>
      BackupConfig(inputPath, outputPath, timeColumn, partitionColumn,
        f, t, maxRows, dryRun)
    }
}
