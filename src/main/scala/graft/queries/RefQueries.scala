package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Reference-parity operator surface (SURVEY.md §2, r-prefix).
  *
  * The reference's whole query surface is two SQL shapes pushed to
  * Timestream (`cmd/backup.go:170-178`, `240-248`) plus client-side
  * chunk/count bookkeeping; here each becomes a declarative Spark plan
  * Catalyst can push down and codegen.
  *
  * Timestamp-output discipline: the fixture `events.ts` carries
  * nanosecond precision; Spark truncates to microseconds while the
  * DuckDB oracle keeps nanos — so every *output* timestamp is either
  * formatted (`date_format`, second/micro precision) or truncated, and
  * window orderings add an `event_id` tie-break so both engines agree.
  */
object RefQueries {

  // Backup window over the events fixture (data spans 2024-01-01..01-30).
  private val From = "2024-01-05 00:00:00"
  private val To   = "2024-01-25 00:00:00"
  private val ChunkRows = 500 // reference --rows clamp ≤1000 (cmd/backup.go:213-217)

  private def eventsInWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      // P3: both-inclusive time-range predicate (cmd/backup.go:171,241)
      .filter(col("ts") >= lit(From).cast("timestamp") &&
              col("ts") <= lit(To).cast("timestamp"))

  private val oracleWindow =
    s"ts >= TIMESTAMP '$From' AND ts <= TIMESTAMP '$To'"

  val defs: Map[String, QueryDef] = Map(

    // S2+P1+P3+P5+A1 — partition discovery: DISTINCT partition values in
    // the window, NULLs skipped (cmd/backup.go:170-178, 198-203).
    "r1_discovery" -> QueryDef(
      s"""SELECT event_type FROM events
         |WHERE $oracleWindow AND event_type IS NOT NULL
         |GROUP BY event_type""".stripMargin) { (s, dir) =>
      eventsInWindow(s, dir)
        .select(col("event_type"))
        .where(col("event_type").isNotNull)
        .distinct()
    },

    // S1+P2+P3+P4+O1 — per-partition extraction: SELECT * in window with
    // equality predicate, newest-first (cmd/backup.go:240-248).
    "r2_extraction" -> QueryDef(
      s"""SELECT event_id, user_id, event_type, value,
         |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, props
         |FROM events
         |WHERE $oracleWindow AND event_type = 'click'""".stripMargin) { (s, dir) =>
      eventsInWindow(s, dir)
        .filter(col("event_type") === lit("click"))
        .orderBy(col("ts").desc)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
          col("props"))
    },

    // O2+A2 — chunking + per-chunk min/max time: the reference pages rows
    // 1000-at-a-time per partition and derives each chunk's [from,to]
    // from first/last row (cmd/backup.go:266-281). Spark-side the chunk id
    // is a window computation; min/max per chunk is a plain agg —
    // order-independent and strictly more correct than first/last-row.
    "r3_chunk_minmax" -> QueryDef(
      s"""WITH numbered AS (
         |  SELECT event_type, ts,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY date_trunc('microsecond', ts) DESC, event_id DESC) AS rn
         |  FROM events WHERE $oracleWindow
         |)
         |SELECT event_type,
         |       CAST((rn - 1) // $ChunkRows AS BIGINT) AS chunk_id,
         |       count(*) AS n_rows,
         |       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS chunk_from,
         |       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS chunk_to
         |FROM numbered
         |GROUP BY event_type, chunk_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      eventsInWindow(s, dir)
        .withColumn("chunk_id",
          ((row_number().over(w) - 1) / ChunkRows).cast("long"))
        .groupBy(col("event_type"), col("chunk_id"))
        .agg(count(lit(1)).as("n_rows"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("chunk_from"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("chunk_to"))
    },

    // A3 — per-partition row counts (the reference's mutex-guarded
    // totalRowsPerPartitions map, cmd/backup.go:221-222, 299-301).
    "r4_partition_counts" -> QueryDef(
      s"""SELECT event_type, count(*) AS n_rows FROM events
         |WHERE $oracleWindow GROUP BY event_type""".stripMargin) { (s, dir) =>
      eventsInWindow(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"))
    },

    // S6/F4 — schema-on-read nested decode: the reference recursively
    // decodes Timestream Datum trees (helpers/helpers.go:43-63); here the
    // JSON `props` column plays the nested payload, decoded by from_json.
    "r5_json_decode" -> QueryDef(
      """SELECT CAST(json_extract(props, '$.k') AS INT) AS k,
        |       count(*) AS n
        |FROM events GROUP BY k""".stripMargin) { (s, dir) =>
      // compiled single-key extraction (graft.functions.JsonKernels)
      // instead of from_json: JsonToStructs is CodegenFallback and the
      // sf1 campaign measured ~15× cpu for 10× rows on this path
      Tables.events(s, dir)
        .select(expr("graft_json_scalar(props, 'k')").cast("int").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
    },

    // F5 — faithful stringification with the reference's NULL sentinel:
    // every scalar leaf becomes a string, SQL NULL becomes the literal
    // "NULL" (helpers/helpers.go:5-10). Doubles go through decimal so both
    // engines print identical digits.
    "r6_stringify" -> QueryDef(
      s"""SELECT event_id,
         |  COALESCE(CAST(event_type AS VARCHAR), 'NULL') AS event_type_s,
         |  COALESCE(CAST(CAST(value AS DECIMAL(14,2)) AS VARCHAR), 'NULL') AS value_s,
         |  COALESCE(CAST(user_id AS VARCHAR), 'NULL') AS user_id_s
         |FROM events WHERE $oracleWindow""".stripMargin) { (s, dir) =>
      eventsInWindow(s, dir).select(
        col("event_id"),
        coalesce(col("event_type").cast("string"), lit("NULL")).as("event_type_s"),
        coalesce(col("value").cast("decimal(14,2)").cast("string"), lit("NULL")).as("value_s"),
        coalesce(col("user_id").cast("string"), lit("NULL")).as("user_id_s"))
    },

    // F3 — the reference's three time layouts: query, S3 dir date, and
    // filename timestamp (cmd/backup.go:25-28).
    "r7_time_layouts" -> QueryDef(
      s"""SELECT event_id,
         |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS fmt_query,
         |  strftime(ts, '%Y%m%d') AS fmt_dir,
         |  strftime(ts, '%Y%m%dT%H%M%SZ') AS fmt_file
         |FROM events WHERE $oracleWindow""".stripMargin) { (s, dir) =>
      eventsInWindow(s, dir).select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("fmt_query"),
        date_format(col("ts"), "yyyyMMdd").as("fmt_dir"),
        date_format(col("ts"), "yyyyMMdd'T'HHmmss'Z'").as("fmt_file"))
    },

    // F6/S5 — CRC32 checksums (cmd/backup.go:309): row-level analogue of
    // the reference's per-chunk checksum. DuckDB has no crc32 → rows-only.
    "r8_crc32" -> QueryDef.rowsOnly { (s, dir) =>
      eventsInWindow(s, dir).select(
        col("event_id"),
        lower(hex(crc32(col("event_type").cast("binary")))).as("etype_crc32"))
    },

    // S3+S4+S5 — the whole backup pipeline end-to-end: partitioned
    // gzip-NDJSON sink with chunk caps and <from>_<to>_<crc32> naming
    // (cmd/backup.go:311-321), then re-read and count per partition/day.
    // The oracle counts the same groups straight off the source table —
    // sink + re-read must be lossless for the hashes to match.
    "r9_backup_roundtrip" -> QueryDef(
      s"""SELECT event_type, strftime(ts, '%Y%m%d') AS date_dir,
         |       count(*) AS n_rows
         |FROM events WHERE $oracleWindow
         |GROUP BY event_type, date_dir""".stripMargin) { (s, dir) =>
      // Fixed path: Backup.run's mode=overwrite wipes it each run, so
      // repeated invocations can't leak table copies (ADVICE r01).
      val out = QueryDef.scratchDir("r9", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
        to = java.time.Instant.parse("2024-01-25T00:00:00Z"))
      graft.operators.Backup.run(s, cfg)
      // partition columns come from the directory layout; one dummy
      // data field keeps the read line-per-row without inference
      s.read.schema("ts STRING").json(out)
        .groupBy(col("event_type").cast("string").as("event_type"),
          col("date_dir").cast("string").as("date_dir"))
        .agg(count(lit(1)).as("n_rows"))
    },

    // S1+S3 through a REAL connector: the backup layout read back via
    // the graftbackup DataSource V2 (`graft.sources.BackupSource`) with
    // a partition-equality filter absorbed at PLANNING time — only the
    // matching directory's chunk files are listed or opened (the other
    // four event_type dirs are never planned; BackupSourceSpec pins
    // that) — and column pruning reaching the JSON decoder (only
    // user_id is parsed; date_dir comes from the directory name, so
    // the grouping costs no decode at all).
    "r15_backup_dsv2" -> QueryDef(
      s"""SELECT strftime(ts, '%Y%m%d') AS date_dir,
         |       count(*) AS n_rows, sum(user_id)::BIGINT AS sum_uid
         |FROM events
         |WHERE $oracleWindow AND event_type = 'click'
         |GROUP BY date_dir""".stripMargin) { (s, dir) =>
      val out = QueryDef.scratchDir("r15", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      graft.operators.Backup.run(s, cfg)
      s.read.format("graftbackup").load(out)
        .filter(col("event_type") === "click")
        .groupBy(col("date_dir"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("user_id")).cast("bigint").as("sum_uid"))
        .select(col("date_dir"), col("n_rows"), col("sum_uid"))
    },

    // S3+S5 as a first-class connector WRITE: the same window shipped
    // through `df.write.format("graftbackup")` (BackupSink — staged
    // task chunks, CRC32-of-compressed-bytes names computed as bytes
    // stream, driver publish) instead of Backup.run's write+rename
    // repair pass, then read back through the SAME connector and
    // rolled up. Sink and source verify each other: a byte wrong in
    // the chunk layout, a row lost in commit, or a mis-derived
    // date_dir breaks the hash match against the source-table oracle.
    "r16_backup_dsv2_write" -> QueryDef(
      s"""SELECT event_type, strftime(ts, '%Y%m%d') AS date_dir,
         |       count(*) AS n_rows, sum(user_id)::BIGINT AS sum_uid
         |FROM events
         |WHERE $oracleWindow AND event_type IS NOT NULL
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val out = QueryDef.scratchDir("r16", dir)
      Tables.events(s, dir)
        .filter(col("ts") >= lit(From).cast("timestamp") &&
          col("ts") <= lit(To).cast("timestamp") &&
          col("event_type").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .write.format("graftbackup").mode("overwrite")
        .option("partitionColumns", "event_type")
        .option("timeColumn", "ts")
        .save(out)
      s.read.format("graftbackup").load(out)
        .groupBy(col("event_type"), col("date_dir"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("user_id")).cast("bigint").as("sum_uid"))
    },

    // S1+A1 through the connector's PUSHED-AGGREGATE path: group-by on
    // the partition column with COUNT(*) / MIN / MAX of directory-derived
    // columns is answered with one partial row per chunk file — the
    // count is a raw line count (no JSON parse), the min/max first/last
    // day come straight from the directory names, and Spark's final
    // aggregate merges the partials (BackupSourceSpec pins that the
    // plan carries BackupAggScan). At 100 TB this is the difference
    // between shipping every row into an aggregate and shipping one row
    // per chunk.
    "r17_backup_agg_pushdown" -> QueryDef(
      s"""SELECT event_type, count(*) AS n_rows,
         |       min(strftime(ts, '%Y%m%d')) AS first_day,
         |       max(strftime(ts, '%Y%m%d')) AS last_day
         |FROM events
         |WHERE $oracleWindow AND event_type IS NOT NULL
         |GROUP BY event_type""".stripMargin) { (s, dir) =>
      val out = QueryDef.scratchDir("r17", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      graft.operators.Backup.run(s, cfg)
      s.read.format("graftbackup").load(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("date_dir")).as("first_day"),
          max(col("date_dir")).as("last_day"))
    },

    // S1+P3 with chunk-name ZONE MAPS: a narrow time window over the
    // backup prunes whole `<fromTS>_<toTS>_<crc32>` chunk files by their
    // name envelope before any gzip is opened (the reference encodes
    // min/max into the name for exactly this incremental-range use,
    // cmd/backup.go:311-313); the residual string predicate is still
    // evaluated exactly above the scan, so the second-floored names can
    // never change results — BackupSourceSpec pins both the skip and a
    // sub-second boundary case.
    "r18_backup_time_prune" -> QueryDef(
      s"""SELECT event_id,
         |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-12 06:30:00'
         |  AND event_type IS NOT NULL""".stripMargin) { (s, dir) =>
      val out = QueryDef.scratchDir("r18", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      graft.operators.Backup.run(s, cfg)
      s.read.format("graftbackup").load(out)
        .filter(col("ts") >= "2024-01-10 00:00:00" &&
          col("ts") < "2024-01-12 06:30:00")
        .select(col("event_id"), col("ts").as("ts_str"))
    },

    // incremental backup — the reason the reference encodes
    // <fromTS>_<toTS> into chunk names at all: resume a backup root up
    // to a new end time touching ONLY the increment. The exact resume
    // point is the root stamp's coveredTo (BackupMeta; names floor to
    // seconds and are used as a cross-check, not the authority); the
    // increment ships through the DSv2 sink's append mode. Base window
    // + incremental extension must equal one full-window backup — the
    // oracle counts the full window off the source table.
    "r19_backup_incremental" -> QueryDef(
      s"""SELECT event_type, strftime(ts, '%Y%m%d') AS date_dir,
         |       count(*) AS n_rows
         |FROM events WHERE $oracleWindow AND event_type IS NOT NULL
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val out = QueryDef.scratchDir("r19", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse("2024-01-15T00:00:00Z"))
      graft.operators.Backup.run(s, cfg) // overwrite wipes stale scratch
      graft.operators.Backup.incremental(s, s"$dir/events.parquet", out,
        java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      s.read.format("graftbackup").load(out)
        .groupBy(col("event_type").cast("string").as("event_type"),
          col("date_dir").cast("string").as("date_dir"))
        .agg(count(lit(1)).as("n_rows"))
    },

    // S1+O1+O2 through the connector's pushed-TopN path: "newest N
    // events in the backup" — the reference's newest-first page order
    // (cmd/backup.go:240-248) as a connector-planned top-k. The Sort +
    // Limit above the DSv2 scan pushes down (SupportsPushDownTopN):
    // each chunk-file reader keeps only its LOCAL top-50 in a bounded
    // heap and the merging TopN above sees ≤ 50 rows per chunk instead
    // of every decoded line. The backup's formatted ts strings are
    // fixed-width, so string order IS chronological order — same
    // collation in DuckDB. event_id breaks ties deterministically.
    "r20_backup_topn" -> QueryDef(
      s"""SELECT event_id,
         |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
         |       event_type, user_id
         |FROM events WHERE $oracleWindow AND event_type IS NOT NULL
         |ORDER BY ts_str DESC, event_id DESC LIMIT 50""".stripMargin) { (s, dir) =>
      val out = QueryDef.scratchDir("r20", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      graft.operators.Backup.run(s, cfg)
      s.read.format("graftbackup").load(out)
        .select(col("event_id"), col("ts").as("ts_str"),
          col("event_type"), col("user_id"))
        .orderBy(col("ts_str").desc, col("event_id").desc)
        .limit(50)
    },

    // S5 put to WORK — backup fsck: re-derive CRC32 + row count + time
    // envelope from the bytes on disk and check every chunk against
    // its own name (the audit the reference's naming scheme exists to
    // enable, cmd/backup.go:309-321). A healthy backup must report
    // zero bad chunks AND per-partition row totals equal to the source
    // window — which is exactly what the oracle counts. Chunks are
    // packed into byte-sized tasks; BackupSpec corrupts bytes/names and
    // watches the verdicts flip.
    "r21_backup_fsck" -> QueryDef(
      s"""SELECT event_type, count(*) AS n_rows,
         |  0 AS n_unreadable, 0 AS n_crc_bad, 0 AS n_env_bad
         |FROM events WHERE $oracleWindow
         |GROUP BY event_type""".stripMargin) { (s, dir) =>
      val out = QueryDef.scratchDir("r21", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      graft.operators.Backup.run(s, cfg)
      graft.operators.Backup.fsck(s, out, "event_type")
        .groupBy(col("part").as("event_type"))
        .agg(sum(col("rows")).cast("long").as("n_rows"),
          sum(when(!col("readable"), 1L).otherwise(0L)).cast("int")
            .as("n_unreadable"),
          sum(when(!col("crcOk"), 1L).otherwise(0L)).cast("int")
            .as("n_crc_bad"),
          sum(when(!col("envelopeOk"), 1L).otherwise(0L)).cast("int")
            .as("n_env_bad"))
    },

    // the lifecycle half of the <from>_<to> names (r18's zone maps are
    // the read half): retention-prune deletes every chunk whose
    // name-claimed envelope ends before the cutoff WITHOUT opening a
    // file; straddling chunks survive whole (retention is a metadata
    // op, not a rewrite), so a post-prune time filter still yields
    // exactly the source rows at-or-after the cutoff — which is the
    // oracle. BackupSpec pins that files were actually deleted and
    // that straddlers/malformed names survive.
    "r22_backup_retention" -> QueryDef(
      s"""SELECT event_type, count(*) AS n_rows
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND $oracleWindow
         |GROUP BY event_type""".stripMargin) { (s, dir) =>
      val out = QueryDef.scratchDir("r22", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      graft.operators.Backup.run(s, cfg)
      graft.operators.Backup.retentionPrune(s, out,
        java.time.Instant.parse("2024-01-15T00:00:00Z")): Unit
      s.read.format("graftbackup").load(out)
        .filter(col("ts") >= "2024-01-15 00:00:00")
        .groupBy(col("event_type").cast("string").as("event_type"))
        .agg(count(lit(1)).as("n_rows"))
    },

    // the connector's CATALOG tier: backups named like tables and
    // queried straight from SQL — `graft.<namespace>.<table>` resolves
    // through graft.sources.BackupCatalog (warehouse/<ns>/<table> = a
    // backup root; the directory tree IS the metastore, so any backup
    // dropped into the warehouse is immediately queryable). All scan
    // pushdown (partition pruning, column pruning, aggregates, zone
    // maps, TopN) rides along because loadTable returns the same
    // BackupTable the path reader builds; CatalogSpec pins DDL,
    // zero-config INSERT INTO, and pruning through the catalog path.
    "r23_backup_catalog" -> QueryDef(
      s"""SELECT event_type, strftime(ts, '%Y%m%d') AS date_dir,
         |       count(*) AS n_rows
         |FROM events WHERE $oracleWindow
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val wh = QueryDef.scratchDir("r23_wh", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = s"$wh/bak/events",
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      graft.operators.Backup.run(s, cfg)
      // Catalog instances are CACHED BY NAME for the session's life —
      // a runtime conf change cannot re-point an initialized catalog.
      // The name therefore encodes the (query, sf) scratch identity, so
      // every invocation in any session resolves its own warehouse and
      // can never read (or mutate!) another query's tables.
      val cat = ("graft_r23_" + new java.io.File(dir).getName)
        .replaceAll("[^a-zA-Z0-9_]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.BackupCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""SELECT event_type, date_dir, count(*) AS n_rows
               |FROM `$cat`.bak.events
               |GROUP BY event_type, date_dir""".stripMargin)
        .select(col("event_type").cast("string").as("event_type"),
          col("date_dir").cast("string").as("date_dir"), col("n_rows"))
    },

    // DELETE FROM as a metadata operation: a partition-predicate SQL
    // DELETE against a catalog-resolved backup drops matching leaf
    // directories whole — no file opened, no rewrite (SupportsDelete;
    // finer predicates are refused at analysis, and row-level rewrite
    // is Merge's job). TRUNCATE TABLE rides the same interface.
    "r24_partition_delete" -> QueryDef(
      s"""SELECT event_type, count(*) AS n_rows
         |FROM events
         |WHERE $oracleWindow AND event_type IS NOT NULL
         |  AND event_type <> 'error'
         |GROUP BY event_type""".stripMargin) { (s, dir) =>
      val wh = QueryDef.scratchDir("r24_wh", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = s"$wh/bak/events",
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      graft.operators.Backup.run(s, cfg)
      // per-(query, sf) catalog name — see r23's caching note; for a
      // MUTATING query this is load-bearing: a cached catalog pointed
      // at another query's warehouse would delete that query's data
      val cat = ("graft_r24_" + new java.io.File(dir).getName)
        .replaceAll("[^a-zA-Z0-9_]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.BackupCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"DELETE FROM `$cat`.bak.events WHERE event_type = 'error'")
      s.sql(s"""SELECT event_type, count(*) AS n_rows
               |FROM `$cat`.bak.events
               |WHERE event_type IS NOT NULL
               |GROUP BY event_type""".stripMargin)
        .select(col("event_type").cast("string").as("event_type"),
          col("n_rows"))
    },

    // chunk PROVENANCE as metadata columns (SupportsMetadataColumns):
    // `_chunk_file` / `_chunk_from` / `_chunk_to` surface which
    // physical chunk a row came from and its name-claimed envelope —
    // per-file constants, zero parse cost. The per-partition min of
    // chunk-froms equals the second-floored min event time (every
    // chunk's from IS the floor of its own min), so the oracle can
    // hash-check provenance without knowing the chunk layout.
    "r25_chunk_provenance" -> QueryDef(
      s"""SELECT event_type,
         |  strftime(date_trunc('second', min(ts)), '%Y%m%dT%H%M%SZ')
         |    AS first_from,
         |  strftime(date_trunc('second', max(ts)), '%Y%m%dT%H%M%SZ')
         |    AS last_to,
         |  count(*) AS n_rows
         |FROM events WHERE $oracleWindow
         |GROUP BY event_type""".stripMargin) { (s, dir) =>
      val out = QueryDef.scratchDir("r25", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      graft.operators.Backup.run(s, cfg)
      s.read.format("graftbackup").load(out)
        .select(col("event_type"), col("_chunk_from"), col("_chunk_to"))
        .groupBy(col("event_type").cast("string").as("event_type"))
        .agg(min(col("_chunk_from")).as("first_from"),
          max(col("_chunk_to")).as("last_to"),
          count(lit(1)).as("n_rows"))
    },

    // Multi-column partition layout (round-8 mandate #6): the
    // reference's single `--column` (cmd/backup.go:59-64) generalized
    // to nested directory levels — here (event_type, uid_bucket) with
    // date_dir innermost. The read back filters ONLY the inner level
    // (uid_bucket='2'), the harder pruning case: every event_type dir
    // is listed but only its uid_bucket=2 subtree is planned
    // (plan-asserted in BackupSourceSpec). The oracle recomputes the
    // same slice straight off the source table, so layout, pruning and
    // the per-leaf chunk envelope all have to be lossless.
    "r26_backup_multicol" -> QueryDef(
      s"""SELECT event_type, strftime(ts, '%Y%m%d') AS date_dir,
         |       count(*) AS n_rows, sum(user_id)::BIGINT AS sum_uid
         |FROM events
         |WHERE $oracleWindow AND event_type IS NOT NULL
         |  AND user_id % 4 = 2
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      // the operator reads a path, so the derived second dimension
      // lands in a scratch parquet first
      val srcOut = QueryDef.scratchDir("r26_src", dir)
      val out = QueryDef.scratchDir("r26", dir)
      Tables.events(s, dir)
        .withColumn("uid_bucket",
          pmod(col("user_id"), lit(4)).cast("string"))
        .write.mode("overwrite").parquet(srcOut)
      val cfg = graft.config.BackupConfig(
        inputPath = srcOut, outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        partitionColumns = Seq("event_type", "uid_bucket"),
        from = java.time.Instant.parse(From.replace(" ", "T") + "Z"),
        to = java.time.Instant.parse(To.replace(" ", "T") + "Z"))
      graft.operators.Backup.run(s, cfg)
      s.read.format("graftbackup").load(out)
        .filter(col("uid_bucket") === "2")
        .groupBy(col("event_type").cast("string").as("event_type"),
          col("date_dir").cast("string").as("date_dir"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("user_id")).cast("bigint").as("sum_uid"))
    },

    // [ABSENT in reference, advertised by it] — restore: the README
    // promises "backup and restore" (README.md:3) but main.go:30-32
    // registers only backup. Full inverse roundtrip: faithful-strings
    // backup (every leaf stringified, NULL sentinel) → Restore undoes
    // the stringification into the typed schema → parquet → row-level
    // compare against the original window. Hash equality here proves
    // the backup+restore pair is lossless end-to-end.
    "r12_restore_roundtrip" -> QueryDef(
      s"""SELECT event_id, user_id, event_type, value,
         |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, props
         |FROM events
         |WHERE $oracleWindow AND event_type IS NOT NULL""".stripMargin) { (s, dir) =>
      val out = QueryDef.scratchDir("r12_backup", dir)
      val restoredDir = QueryDef.scratchDir("r12_restored", dir)
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
        to = java.time.Instant.parse("2024-01-25T00:00:00Z"))
      graft.operators.Backup.run(s, cfg, faithfulStrings = true)
      val target = Tables.events(s, dir).schema
      graft.operators.Restore
        .run(s, out, target, cfg.partitionColumn, restoredDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
          col("props"))
    }
  )
}
