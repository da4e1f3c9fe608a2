package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** [EXT→§2.9] Structured Streaming parity idioms: the reference's batch
  * `[from, to]` extraction generalizes to event-time windows; its
  * per-partition running counters (`cmd/backup.go:221-222`) become a
  * stateful streaming aggregation. File source → windowed/stateful agg →
  * memory sink, driven synchronously with `processAllAvailable` so the
  * result is deterministic and batch-checkable (SURVEY.md §7.3 step 6).
  */
object StreamingJobs {

  private val nameSeq = new AtomicLong(0)

  /** Micro-batch COUNT stays bounded as the corpus grows: per-trigger
    * file count scales with the input so a finite backfill lands in at
    * most ~[[MaxDataBatches]] batches at ANY scale. The r6 sf1 run
    * measured why this must not be a constant 1: every stateful job's
    * state re-merges per batch, so batch count scaling WITH file count
    * turns 10× data into 11 session-window batches whose accumulated
    * state made s07 superlinear (13.7-38.5 s for 10× data vs 2.7 s) —
    * at 100 TB / millions of files, one-file triggers would be millions
    * of state-store commits. Multi-batch semantics stay exercised: any
    * multi-file input still yields ≥2 batches (n=2..4 → K=1). */
  val MaxDataBatches = 4

  private def adaptiveFilesPerTrigger(nFiles: Int): Int =
    math.max(1, (nFiles + MaxDataBatches - 1) / MaxDataBatches)

  /** Number of parquet parts behind the fixture path (single file or a
    * Spark-written directory of part files). */
  private def fixtureFileCount(dir: String): Int = {
    val p = java.nio.file.Paths.get(s"$dir/events.parquet")
    if (java.nio.file.Files.isDirectory(p)) {
      val listing = java.nio.file.Files.list(p)
      try listing.filter(_.getFileName.toString.endsWith(".parquet")).count().toInt
      finally listing.close()
    } else 1
  }

  /** Canonicalize the streamed `ts` column to session-zoned
    * `TimestampType`, mirroring [[graft.Tables.loadPath]]: the fixture
    * has shipped as TIMESTAMP(NANOS) (read long under nanosAsLong),
    * un-adjusted `timestamp[us]` (read TIMESTAMP_NTZ — watermarks
    * reject NTZ with EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and
    * UTC-adjusted µs. UTC session makes the NTZ→LTZ cast lossless. */
  private def canonTs(stream: DataFrame, diskSchema: StructType): DataFrame =
    diskSchema("ts").dataType match {
      case LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        stream.withColumn("ts", col("ts").cast(TimestampType))
      case _ => stream
    }

  /** Streaming read of the events fixture; `ts` normalized to
    * TimestampType regardless of the on-disk encoding ([[canonTs]]).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val schema: StructType = raw.schema
    // FileStreamSource rejects a bare file path ("basePath must be a
    // directory") — a glob pattern is the documented way to stream a
    // fixed file set.
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger",
        adaptiveFilesPerTrigger(fixtureFileCount(dir)).toString)
      .parquet(s"$dir/events*.parquet")
    canonTs(stream, schema)
  }

  /** Run a streaming aggregation to completion against the (finite)
    * file source and return the final result as a batch DataFrame.
    * Complete output mode: every window is emitted regardless of
    * watermark position, so the result equals the batch computation.
    *
    * Stateful-op sizing: a streaming query instantiates one state store
    * per shuffle partition per micro-batch; at the session default of 32
    * that is 32 HDFS-backed store inits + checkpoint commits for
    * aggregations whose key cardinality is ≤150 (event types, users).
    * The store setup — not the arithmetic — dominated the driver bench
    * (r02: s01+s02+s03 = 111 s for ~6.6 k rows), so each job runs on an
    * isolated [[streamSession]] pinned to [[StreamShufflePartitions]].
    * State stores + their maintenance thread are torn down afterwards so
    * later batch queries don't run under leftover streaming state. */
  val StreamShufflePartitions = 4

  /** Isolated child session for one streaming job: shares the
    * SparkContext (no second JVM/scheduler) but owns its SQLConf and
    * catalog, so pinning the stream's shuffle partitions cannot leak
    * into — or race with — concurrent batch queries planned on the
    * caller's session, and the memory-sink table never lands in the
    * caller's catalog. */
  private def streamSession(spark0: SparkSession): SparkSession = {
    val s = spark0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions.toString)
    s
  }

  def runToCompletion(agg: DataFrame, mode: String = "complete"): DataFrame = {
    val spark = agg.sparkSession
    val name = s"graft_stream_${nameSeq.incrementAndGet()}"
    try {
      val q = agg.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
      try {
        q.processAllAvailable()
      } finally q.stop()
    } finally {
      // unload loaded state store providers + stop the maintenance
      // thread; the next streaming query restarts them lazily
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.table(name)
  }

  /** Tumbling 1-hour event-time windows with a 10-minute watermark:
    * count + exact value sum per (window, event_type). */
  def tumblingCounts(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).as("sum_val"))
    runToCompletion(agg)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"),
        col("sum_val").cast("double").as("sum_value"))
  }

  /** Stateful aggregation on the ROCKSDB state store provider — the
    * production backend for streaming state that does not fit on the
    * executor heap (the default HDFSBackedStateStoreProvider keeps
    * every store's full map in memory; at 100 TB-scale key
    * cardinalities that is the OOM, and RocksDB's off-heap SST files
    * are the standard fix). Changelog checkpointing is ON — per-batch
    * uploads ship only the delta instead of a full SST snapshot, the
    * knob that makes commit cost O(changed keys). The job FAILS if the
    * checkpoint does not carry RocksDB's artifact shapes (zip
    * snapshots / changelogs, never the HDFS provider's .delta files) —
    * a silent fall-back to the default provider must not pass as
    * success. Results must equal the batch aggregate exactly: the
    * store swap is a durability/memory choice, never a semantics
    * choice. */
  def rocksdbStateCounts(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    val scratch = java.nio.file.Files.createTempDirectory("graft_rocksdb")
    val name = s"graft_stream_${nameSeq.incrementAndGet()}"
    try {
      val agg = eventsStream(spark, dir)
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(12,2)") * 100).cast("long"))
            .as("cents"))
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      val stateDir = scratch.resolve("ckpt").resolve("state")
      val names = {
        val s = java.nio.file.Files.walk(stateDir)
        try {
          val it = s.iterator()
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) buf += it.next().getFileName.toString
          buf.toSeq
        } finally s.close()
      }
      require(names.exists(n =>
        n.endsWith(".zip") || n.endsWith(".changelog")),
        "checkpoint carries no RocksDB snapshot/changelog artifacts — " +
          "the provider silently fell back to the default store")
      require(!names.exists(_.endsWith(".delta")),
        "checkpoint carries HDFS-provider .delta files — RocksDB was " +
          "not the active provider")
      // state-store scale diagnostics on stderr (the sf100 probe reads
      // these): snapshot/changelog counts and checkpointed state bytes
      // — the numbers that say whether the backend's commit cost is
      // O(changed keys) as configured, not just that it ran
      try {
        val s2 = java.nio.file.Files.walk(stateDir)
        val (nZip, nLog, bytes) = try {
          val it = s2.iterator()
          var z = 0; var l = 0; var b = 0L
          while (it.hasNext) {
            val p = it.next()
            val n = p.getFileName.toString
            if (n.endsWith(".zip")) z += 1
            if (n.endsWith(".changelog")) l += 1
            if (java.nio.file.Files.isRegularFile(p))
              b += java.nio.file.Files.size(p)
          }
          (z, l, b)
        } finally s2.close()
        System.err.println(s"[s21] rocksdb state: snapshots=$nZip " +
          s"changelogs=$nLog state_bytes=$bytes")
      } catch { case scala.util.control.NonFatal(_) => () }
      val out = spark.table(name)
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(out.collect(): _*)),
        out.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }

  /** Trigger.AvailableNow catch-up: process the backlog that exists at
    * start in admission-controlled micro-batches (maxFilesPerTrigger
    * still applies per batch, unlike Trigger.Once's single giant
    * batch), then TERMINATE — the production "catch up and exit" mode
    * for scheduled incremental jobs. `processAllAvailable` needs the
    * caller to decide when a forever-query is done; AvailableNow
    * retires itself, which is what a cron-driven 100 TB backfill
    * actually runs. Sum kept in integer cents so the oracle compare is
    * exact. Fails loudly if the query does not self-terminate within
    * the timeout (a hung source must not look like success). */
  def availableNowCatchup(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val agg = eventsStream(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col("value") * 100).cast("bigint")).as("cents"))
    val name = s"graft_stream_${nameSeq.incrementAndGet()}"
    try {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        val finished = q.awaitTermination(300000)
        if (!finished) {
          q.stop()
          throw new IllegalStateException(
            "AvailableNow query did not self-terminate within 300s")
        }
      } finally if (q.isActive) q.stop()
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.table(name)
  }

  /** Stateful running per-partition counts — the streaming analogue of
    * the reference's totalRowsPerPartitions map. */
  def partitionCounts(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val agg = eventsStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"))
    runToCompletion(agg)
  }

  /** Streaming exact dedup: `dropDuplicates` keeps one state entry per
    * key and emits each key's first arrival (append mode). Projected to
    * the key itself so the bounded-input result is deterministic (WHICH
    * duplicate row arrives first depends on task scheduling; the key
    * set doesn't) and batch-checkable against SELECT DISTINCT. State is
    * bounded by key cardinality; an unbounded deployment with an
    * unbounded key space would use `dropDuplicatesWithinWatermark` to
    * let expired keys age out. */
  def streamDedupKeys(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val dd = eventsStream(spark, dir)
      .select(col("user_id"))
      .dropDuplicates("user_id")
    runToCompletion(dd, mode = "append")
  }

  /** Bounded-state streaming dedup — the production shape for unbounded
    * key spaces: `dropDuplicatesWithinWatermark` keeps a key's state
    * only until the watermark passes its event time + delay, so expired
    * keys age out instead of accumulating forever (s04's
    * `dropDuplicates` state grows with key cardinality for the life of
    * the query). The event-time column must be retained through the
    * dedup for the watermark to govern it. The fixture spans ~30 days
    * and the delay covers the whole span, so every duplicate falls
    * within one watermark window and the emitted key set equals batch
    * DISTINCT — which is what makes the oracle exact; in production the
    * delay is the dedup horizon (a key re-arriving after it is emitted
    * again, by design). */
  def streamDedupKeysWatermarked(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val dd = eventsStream(spark, dir)
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", "40 days")
      .dropDuplicatesWithinWatermark("user_id")
      .select(col("user_id"))
    runToCompletion(dd, mode = "append")
  }

  /** Stream-static join: the event stream enriched against a static
    * dimension (per-type totals computed batch-side), then aggregated.
    * The static side is re-planned per micro-batch (Spark's
    * stream-static contract), so a dimension refresh is picked up at
    * the next trigger; on a cluster the small dim side broadcasts into
    * each micro-batch. */
  def streamStaticJoin(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val staticDim = eventsBatch(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("type_total"))
    val joined = eventsStream(spark, dir)
      .join(staticDim, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), min(col("type_total")).as("type_total"))
    runToCompletion(joined)
  }

  /** Batch read of the same fixture (ns-timestamp handling matches
    * [[eventsStream]]). */
  private def eventsBatch(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)

  /** Set `file`'s mtime to `t` or throw: the staged-input streaming
    * jobs encode BATCH ORDER in mtimes (the file source processes
    * oldest first), and an order that silently failed to apply is a
    * correctness bug downstream — a mis-ordered flush sentinel pushes
    * the watermark past every real event and the whole fixture is
    * late-dropped with an EMPTY, error-free result. setLastModified
    * returns false (not throws) on filesystems that reject mtime
    * updates and on races where the file vanished; turn both into a
    * loud failure. StreamingChaosSpec pins this contract. */
  private[streaming] def bumpMtimeOrFail(file: java.nio.file.Path, t: Long,
                                         consequence: String): Unit =
    if (!file.toFile.setLastModified(t))
      throw new IllegalStateException(
        s"cannot set mtime on staged stream file $file; $consequence")

  /** Stage `df` as a single parquet FILE at `destDir/name.parquet`
    * (write → locate the one part file → move): the staging idiom for
    * jobs that feed the file source their own input. */
  private def stageParquet(df: DataFrame, scratch: java.nio.file.Path,
                           destDir: java.nio.file.Path,
                           name: String): java.nio.file.Path = {
    val tmp = scratch.resolve(s"stage_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val listing = java.nio.file.Files.list(tmp)
    val part =
      try {
        val it = listing.iterator()
        var found: java.nio.file.Path = null
        while (it.hasNext && found == null) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet")) found = p
        }
        found
      } finally listing.close()
    val dest = destDir.resolve(s"$name.parquet")
    java.nio.file.Files.move(part, dest): Unit
    dest
  }

  /** Best-effort recursive delete of a staging dir (children first) —
    * delegates to the shared [[graft.util.Fs.deleteRecursively]]. */
  private def deleteRecursively(root: java.nio.file.Path): Unit =
    graft.util.Fs.deleteRecursively(root)

  /** [[eventsStream]] over an arbitrary file glob (schema still taken
    * from the fixture) — for jobs that stage their own stream input.
    * `nDataFiles` is the caller's staged file count (sentinels
    * excluded), bounding batch count like [[eventsStream]]; the
    * watermark-from-previous-batch contract keeps a sentinel that
    * shares its trigger with trailing data files safe, and the engine's
    * default no-data micro-batch then flushes the final state. */
  private def eventsStreamFrom(spark: SparkSession, schemaDir: String,
                               glob: String, nDataFiles: Int): DataFrame = {
    val schema = spark.read.parquet(s"$schemaDir/events.parquet").schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger",
        adaptiveFilesPerTrigger(nDataFiles).toString)
      .parquet(glob)
    canonTs(stream, schema)
  }

  /** Event-time SESSION windows — dynamic gap-close windows per user
    * (`session_window`), the streaming sessionization q22 computes in
    * batch. Exercises the PRODUCTION finalization path: append mode +
    * watermark, with session state merged across events and evicted
    * only when the watermark passes a session's close. Because a finite
    * file source's watermark never passes the last real session, the
    * job stages its own input: the fixture file as batch 1, then a
    * far-future flush sentinel (user_id = -1) as batch 2 whose event
    * time drives the watermark past every real session — so ALL real
    * sessions finalize and the result equals batch sessionization
    * (which is what makes the DuckDB oracle exact). The sentinel's own
    * session never finalizes and is additionally filtered out. */
  /** 2100-01-01 in the fixture's ON-DISK ts encoding (long-nanos /
    * NTZ-µs / LTZ-µs — whatever the glob's explicit read schema
    * expects). */
  private def farFutureTs(raw: DataFrame): org.apache.spark.sql.Column =
    raw.schema("ts").dataType match {
      case LongType => lit(4102444800000000000L) // 2100-01-01 epoch nanos
      case TimestampNTZType =>
        lit(java.time.LocalDateTime.of(2100, 1, 1, 0, 0)) // NTZ literal
      case _ => lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00"))
    }

  /** Stage the events fixture into `streamDir` as batch-1 input (the
    * fixture may be a single file — driver testdata — or a
    * Spark-written directory of part files), then a far-future flush
    * SENTINEL as the final batch: `sentinel(raw)` builds the sentinel
    * rows from the raw-disk-schema frame (its `ts` should be
    * [[farFutureTs]] so the watermark jumps past every real event and
    * all pending state finalizes/evicts — the only way a FINITE file
    * source ever exercises the production append-mode flush path).
    * Returns the data-file count (sentinel excluded) for
    * [[adaptiveFilesPerTrigger]].
    *
    * The file source processes oldest-mtime first; the sentinel's
    * mtime is bumped into the future so it is ALWAYS in the final
    * trigger. It may share that trigger with trailing data files —
    * safe, because a batch's late-record filter uses the watermark
    * carried over from the PREVIOUS batch, and the engine's default
    * no-data micro-batch then flushes the finalized state. If the
    * sentinel were ingested FIRST, its 2100-01-01 event time would
    * push the watermark past every real event and the whole fixture
    * would be silently late-dropped — hence the fail-fast bump. */
  private def stageFixtureWithSentinel(
      spark: SparkSession, dir: String, scratch: java.nio.file.Path,
      streamDir: java.nio.file.Path,
      sentinel: DataFrame => DataFrame): Int = {
    java.nio.file.Files.createDirectories(streamDir): Unit
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val nDataFiles: Int = if (java.nio.file.Files.isDirectory(src)) {
      val listing = java.nio.file.Files.list(src)
      try {
        val it = listing.iterator()
        var i = 0
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet")) {
            java.nio.file.Files.copy(p,
              streamDir.resolve(f"events_0_$i%03d.parquet")): Unit
            i += 1
          }
        }
        i
      } finally listing.close()
    } else {
      java.nio.file.Files.copy(src, streamDir.resolve("events_0.parquet")): Unit
      1
    }
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val flushFile = stageParquet(
      sentinel(raw), scratch, streamDir, "events_1_flush")
    bumpMtimeOrFail(flushFile, System.currentTimeMillis() + 60000,
      "file-source batch ordering would be undefined and the watermark " +
        "could late-drop every real event")
    nDataFiles
  }

  def sessionCounts(spark0: SparkSession, dir: String,
                    gapMinutes: Int = 30): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_sess_stream")
    val streamDir = scratch.resolve("in")
    val nDataFiles = stageFixtureWithSentinel(spark, dir, scratch, streamDir,
      raw => raw.limit(1).withColumn("ts", farFutureTs(raw))
        .withColumn("user_id", lit(-1L)))

    // Watermark delay covers the whole fixture span: real files may be
    // processed in ANY order across micro-batches (multi-part fixtures
    // have no cross-file time ordering), and a 0-second delay would
    // late-drop rows of any file older than an already-processed one.
    // With the delay at 40 days the watermark stays below every real
    // event until the 2100-01-01 sentinel lands, which alone pushes it
    // past every real session's close.
    val agg = eventsStreamFrom(spark, dir, s"$streamDir/events*.parquet",
        nDataFiles)
      .withWatermark("ts", "40 days")
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    try {
      runToCompletion(agg, mode = "append")
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          col("n_events"))
    } finally deleteRecursively(scratch)
  }

  /** Sliding event-time windows (1 h width / 30 min slide): every event
    * contributes to width/slide = 2 overlapping windows. Complete mode
    * over the bounded fixture equals the batch computation (each window
    * is a plain grouped count the oracle reproduces by expanding both
    * window starts per event). */
  /** UPDATE output mode: watermarked hourly counts where each
    * micro-batch emits ONLY the groups it changed — the low-volume
    * production mode between complete (re-emits everything every
    * batch: O(state) sink traffic) and append (emits a window only
    * after the watermark closes it: full-window latency). The job
    * stages the fixture into four TIME-ORDERED chunks whose boundaries
    * fall mid-window (HH:30), so a window spanning a boundary is
    * updated by two different batches and the memory sink accumulates
    * one row per (group, updating batch).
    *
    * Determinism: per-group counts are monotone under prefix
    * ingestion, so max(n) per group — and max_by for its companion
    * sum — is the final state under ANY batch split; that is what
    * makes the bounded-input result equal to batch aggregation (the
    * oracle) while still driving the real update-mode incremental
    * path. Time-ordered chunks also guarantee no batch's rows are
    * behind the carried watermark, so the 10-minute delay drops
    * nothing (the mtime ladder fails fast like sessionCounts' flush
    * sentinel — mis-ordered chunks would silently late-drop data).
    */
  def updateModeCounts(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_upd_stream")
    val streamDir = scratch.resolve("in")
    java.nio.file.Files.createDirectories(streamDir): Unit
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val tsType = raw.schema("ts").dataType
    // boundary literals in the fixture's ON-DISK ts representation
    // (epoch-nanos long, NTZ µs, or LTZ µs), pinned to UTC
    def bound(iso: String): org.apache.spark.sql.Column = {
      val ldt = java.time.LocalDateTime.parse(iso)
      tsType match {
        case LongType =>
          lit(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L)
        case TimestampNTZType => lit(ldt)
        case _ =>
          timestamp_seconds(lit(ldt.toEpochSecond(java.time.ZoneOffset.UTC)))
      }
    }
    val bounds = Seq("2024-01-08T12:30:00", "2024-01-16T06:30:00",
      "2024-01-23T18:30:00").map(bound)
    val chunks = Seq(
      raw.filter(col("ts") < bounds(0)),
      raw.filter(col("ts") >= bounds(0) && col("ts") < bounds(1)),
      raw.filter(col("ts") >= bounds(1) && col("ts") < bounds(2)),
      raw.filter(col("ts") >= bounds(2)))
    val base = System.currentTimeMillis()
    chunks.zipWithIndex.foreach { case (c, i) =>
      val f = stageParquet(c, scratch, streamDir, f"events_$i%02d")
      bumpMtimeOrFail(f, base + i * 60000L,
        "file-source ordering " +
            "would be undefined and the watermark could late-drop rows")
    }
    val agg = eventsStreamFrom(spark, dir, s"$streamDir/events*.parquet",
        nDataFiles = chunks.size)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).as("sum_val"))
    try {
      runToCompletion(agg, mode = "update")
        .groupBy(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"))
        .agg(max(col("n")).as("n"),
          max_by(col("sum_val"), col("n")).as("sum_val"))
        .select(col("window_start"), col("event_type"), col("n"),
          col("sum_val").cast("double").as("sum_value"))
    } finally deleteRecursively(scratch)
  }

  def slidingCounts(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToCompletion(agg)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"))
  }

  /** Stream-stream inner join with an event-time bound — the hardest
    * §2.9 shape: BOTH sides are unbounded, so each buffers state and
    * the time-range condition + watermarks bound how much (a click
    * joins purchases by the same user within the following hour). On
    * the bounded fixture every match is emitted by completion, so the
    * result equals the batch join — which is what the oracle runs.
    * At scale the watermark delay is the state-retention knob. */
  def streamStreamJoin(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    // Watermark delay covers the fixture span (NOT just the 1-hour join
    // bound): micro-batches have no cross-file time ordering guarantee,
    // and a short delay would late-drop rows from a file older than an
    // already-processed one, silently losing pairs. In production the
    // delay is the deliberate state-retention/late-tolerance knob.
    val clicks = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_event"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "40 days")
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "40 days")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
    // append-mode pair emission (stateful ops may not chain after a
    // time-interval stream-stream join): the PAIR SET is deterministic
    // on bounded input even though emission order is not
    runToCompletion(
      joined.select(col("c_user").as("user_id"),
        col("c_event").as("click_event"), col("p_event").as("purchase_event")),
      mode = "append")
  }

  /** Stream-stream LEFT OUTER join — the shape s10's inner join cannot
    * reach: a click with NO purchase in the following hour must still
    * emit (null-side row), and the engine may only do so once the
    * watermark PROVES no future purchase can match. A finite file
    * source's watermark never passes the last real click, so unmatched
    * clicks would be held in state forever and silently dropped at
    * stop(); the job therefore stages the fixture plus a far-future
    * flush sentinel on BOTH input roles (one click + one purchase row
    * at 2100-01-01, user_id = -1) that drives both watermarks past
    * every real event — all pending left state emits its null rows and
    * the bounded result equals the batch LEFT JOIN, which is what the
    * oracle runs. Unmatched purchases are encoded -1 (not null) so the
    * BIGINT column survives the oracle's pandas pull. */
  def streamStreamLeftJoin(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_ssoj_stream")
    val streamDir = scratch.resolve("in")
    val nDataFiles = stageFixtureWithSentinel(spark, dir, scratch, streamDir,
      raw => {
        val base = raw.limit(1).withColumn("ts", farFutureTs(raw))
          .withColumn("user_id", lit(-1L))
        base.withColumn("event_type", lit("click"))
          .unionByName(base.withColumn("event_type", lit("purchase")))
      })
    val glob = s"$streamDir/events*.parquet"
    val clicks = eventsStreamFrom(spark, dir, glob, nDataFiles)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_event"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "40 days")
    val purchases = eventsStreamFrom(spark, dir, glob, nDataFiles)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "40 days")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
    try {
      runToCompletion(
        joined.select(col("c_user").as("user_id"),
          col("c_event").as("click_event"),
          coalesce(col("p_event"), lit(-1L)).as("purchase_event")),
        mode = "append")
        .filter(col("user_id") >= 0)
    } finally deleteRecursively(scratch)
  }

  /** Stream-stream FULL OUTER join — completes the s10 (inner) / s15
    * (left outer) family: clicks with no purchase in the following
    * hour AND purchases with no click in the preceding hour both
    * surface as null-side rows, each only once the OTHER side's
    * watermark proves no future match can arrive. Same both-roles
    * flush-sentinel discipline as s15 (a finite source's watermark
    * never passes the last real event, so outer state would otherwise
    * be dropped silently at stop()); the bounded pair set equals the
    * batch FULL JOIN the oracle runs. Null sides are −1-encoded so the
    * BIGINT columns survive the oracle's pandas pull. */
  def streamStreamFullJoin(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_ssfj_stream")
    val streamDir = scratch.resolve("in")
    val nDataFiles = stageFixtureWithSentinel(spark, dir, scratch, streamDir,
      raw => {
        val base = raw.limit(1).withColumn("ts", farFutureTs(raw))
          .withColumn("user_id", lit(-1L))
        base.withColumn("event_type", lit("click"))
          .unionByName(base.withColumn("event_type", lit("purchase")))
      })
    val glob = s"$streamDir/events*.parquet"
    val clicks = eventsStreamFrom(spark, dir, glob, nDataFiles)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_event"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "40 days")
    val purchases = eventsStreamFrom(spark, dir, glob, nDataFiles)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "40 days")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "full_outer")
    try {
      runToCompletion(
        joined.select(
          coalesce(col("c_user"), col("p_user")).as("user_id"),
          coalesce(col("c_event"), lit(-1L)).as("click_event"),
          coalesce(col("p_event"), lit(-1L)).as("purchase_event")),
        mode = "append")
        .filter(col("user_id") >= 0)
    } finally deleteRecursively(scratch)
  }

  /** NATIVE streaming write into the backup layout —
    * `writeStream.format("graftbackup")`, no foreachBatch or file-sink
    * detour (s16's shape): the connector's StreamingWrite stages
    * per-epoch chunks exactly like the batch sink and publishes on
    * epoch commit, with `_streaming_commits/epoch-<n>` markers making
    * a replayed epoch a no-op instead of a duplicate (exactly-once
    * across recovery, not just attempts). Read back through the same
    * connector and rolled up; equals the batch computation on bounded
    * input. */
  def streamingBackupNative(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_natbak")
    try {
      val out = scratch.resolve("out").toString
      // Spread each epoch across the executors BEFORE the sink, keyed
      // by LEAF (partition value × day): writer parallelism otherwise
      // equals the micro-batch's source-file count (3-4 tasks here),
      // serializing the gzip encode — measured at the sf10 probe as
      // 17× wall for 10× data at LINEAR cpu. The key choice matters:
      // round-robin spread explodes files (every task writes every
      // leaf — 32×93 ≈ 3 000 tiny chunks, measured 84 s wall at
      // sf0.1), and clustering on the partition columns alone funnels
      // each hot value into one task. Hashing on (partition cols, day)
      // gives each leaf exactly ONE writer and ~leaves/tasks leaves per
      // writer — one chunk per leaf, parallel across leaves, skew
      // bounded by the hottest single day. The sink cannot demand this
      // itself (DSv2 rejects requiredNumPartitions with an unspecified
      // distribution), so the job supplies it.
      val q = eventsStream(spark, dir)
        .filter(col("event_type").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .repartition(spark.sparkContext.defaultParallelism,
          col("event_type"), to_date(col("ts")))
        .writeStream
        .format("graftbackup")
        .option("partitionColumns", "event_type")
        .option("timeColumn", "ts")
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .outputMode("append")
        .start(out)
      try q.processAllAvailable() finally q.stop()
      val agg = spark.read.format("graftbackup").load(out)
        .groupBy(col("event_type"), col("date_dir"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("user_id")).cast("bigint").as("sum_uid"))
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(agg.collect(): _*)),
        agg.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }

  /** Streaming CDC APPLY — the canonical "merge a change stream into a
    * serving table" job: every micro-batch collapses to one winner row
    * per key (lexicographic max of (ts, event_id) — the CDC
    * last-writer-wins collapse [[graft.operators.Merge.merge]]'s
    * contract asks feeds to do), drops rows the base already beats
    * (apply-if-newer: a batch's winner only lands if STRICTLY newer
    * than the served row, so the final table is the global per-key
    * argmax under ANY batch split, not just time-ordered staging), and
    * rewrites the base through Merge.merge's anti-join + union with
    * the staging hop Spark's read-overwrite rule requires. The final
    * serving table must equal the batch per-user argmax the oracle
    * computes. At scale the base rewrite is [[graft.operators
    * .Merge.mergePartitioned]]'s partition-scoped variant; the
    * unpartitioned rewrite here keeps the fixture job simple.
    *
    * The fixture streams as FOUR time-ordered chunks (one per
    * micro-batch) so the base actually evolves across merges;
    * `reverseChunkOrder` stages the same chunks newest-first —
    * StreamingSpec pins that the served table is IDENTICAL either way,
    * which is the apply-if-newer guarantee (a naive blind upsert gives
    * the order-dependent answer). */
  def cdcMergeStream(spark0: SparkSession, dir: String,
                     reverseChunkOrder: Boolean = false,
                     crashAfterApplyInBatch: Option[Long] = None): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_cdc_merge")
    try {
      val streamDir = scratch.resolve("in")
      java.nio.file.Files.createDirectories(streamDir): Unit
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val tsType = raw.schema("ts").dataType
      def bound(iso: String): org.apache.spark.sql.Column = {
        val ldt = java.time.LocalDateTime.parse(iso)
        tsType match {
          case LongType =>
            lit(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L)
          case TimestampNTZType => lit(ldt)
          case _ =>
            timestamp_seconds(lit(ldt.toEpochSecond(java.time.ZoneOffset.UTC)))
        }
      }
      val bounds = Seq("2024-01-08T12:30:00", "2024-01-16T06:30:00",
        "2024-01-23T18:30:00").map(bound)
      val chunks0 = Seq(
        raw.filter(col("ts") < bounds(0)),
        raw.filter(col("ts") >= bounds(0) && col("ts") < bounds(1)),
        raw.filter(col("ts") >= bounds(1) && col("ts") < bounds(2)),
        raw.filter(col("ts") >= bounds(2)))
      val chunks = if (reverseChunkOrder) chunks0.reverse else chunks0
      val base = System.currentTimeMillis()
      chunks.zipWithIndex.foreach { case (c, i) =>
        val f = stageParquet(c, scratch, streamDir, f"events_$i%02d")
        bumpMtimeOrFail(f, base + i * 60000L,
          "file-source ordering would be undefined and the chunk-order " +
            "invariance this job pins would be vacuous")
      }
      val basePath = scratch.resolve("base").toString
      val stagePath = scratch.resolve("staging").toString
      new java.io.File(basePath).mkdirs()
      val sch = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING")
      // one-shot chaos: crash AFTER the serving-table overwrite of the
      // chosen batch but BEFORE its checkpoint commit — the worst crash
      // window for a foreachBatch side effect. Recovery replays that
      // batch; apply-if-newer makes the replay a no-op (an already-
      // applied winner is never STRICTLY newer than the served row), so
      // the recovered table must equal the clean run's exactly — which
      // is what StreamingChaosSpec pins.
      val chaosArmed = new java.util.concurrent.atomic.AtomicBoolean(
        crashAfterApplyInBatch.isDefined)
      def startQuery() = eventsStreamFrom(spark, dir,
          s"$streamDir/events*.parquet", nDataFiles = chunks.size)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .writeStream
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val cur = spark.read.schema(sch).parquet(basePath)
          // batch-local last-writer-wins collapse
          val winners = batch
            .select(col("user_id"),
              struct(col("ts"), col("event_id"), col("event_type")).as("s"))
            .groupBy(col("user_id")).agg(max(col("s")).as("s"))
            .select(col("user_id"), col("s.ts").as("ts"),
              col("s.event_id").as("event_id"),
              col("s.event_type").as("event_type"))
          // apply-if-newer: served row wins unless strictly older
          val newer = winners
            .join(cur.select(col("user_id"), col("ts").as("b_ts"),
              col("event_id").as("b_eid")), Seq("user_id"), "left")
            .filter(col("b_ts").isNull ||
              struct(col("ts"), col("event_id")) >
                struct(col("b_ts"), col("b_eid")))
            .drop("b_ts", "b_eid")
          graft.operators.Merge.merge(cur, newer, "user_id")
            .write.mode("overwrite").parquet(stagePath)
          spark.read.schema(sch).parquet(stagePath)
            .write.mode("overwrite").parquet(basePath)
          if (crashAfterApplyInBatch.contains(batchId) &&
              chaosArmed.compareAndSet(true, false))
            throw new IllegalStateException(
              s"chaos: killed after apply of batch $batchId, " +
                "before checkpoint commit")
        }
        .start()
      val q = startQuery()
      try q.processAllAvailable()
      catch {
        case e: Throwable if crashAfterApplyInBatch.isDefined &&
            !chaosArmed.get() =>
          // the injected kill surfaced LOUDLY (never a silent partial
          // result); recovery below replays the uncommitted batch
          val injected = Iterator.iterate(e)(_.getCause)
            .takeWhile(_ != null).take(10)
            .exists(t => String.valueOf(t.getMessage).contains("chaos"))
          if (!injected) throw e
      }
      finally q.stop()
      if (crashAfterApplyInBatch.isDefined) {
        require(!chaosArmed.get(),
          "chaos batch never ran — the kill case was not exercised")
        val q2 = startQuery()
        try q2.processAllAvailable() finally q2.stop()
      }
      val served = spark.read.schema(sch).parquet(basePath)
        .select(col("user_id"), col("event_id").as("latest_event"),
          col("event_type").as("latest_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(served.collect(): _*)),
        served.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }

  /** Streaming → parquet FILE sink — the production sink (memory is
    * test-only): append-mode write with a checkpoint (the sink's commit
    * log is what makes file output exactly-once), then a batch read-back
    * and aggregation over what landed. The result is collected to a
    * local DataFrame (metadata-sized: one row per user) so the staging
    * dir can be deleted eagerly — the caller's later actions must not
    * depend on scratch files. */
  def streamToFileSink(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_filesink")
    try {
      val out = scratch.resolve("out").toString
      val q = eventsStream(spark, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      val agg = spark.read.parquet(out)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(agg.collect(): _*)),
        agg.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }

  /** Streaming CONTINUOUS BACKUP — the reference's batch pipeline
    * (`cmd/backup.go`) as an always-on job: the event stream lands in
    * the SAME partitioned gz-NDJSON layout the batch
    * [[graft.operators.Backup]] writes (`event_type=<v>/date_dir=<d>/
    * *.json.gz`), exactly-once via the file sink's commit log, and is
    * then read back through the `graftbackup` DataSource V2 connector
    * ([[graft.sources.BackupSource]]) — sink format and connector
    * verify each other end-to-end. Per-partition counts + a decoded
    * data-field sum must equal the batch computation over the fixture.
    */
  def streamingBackup(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_streambak")
    try {
      val out = scratch.resolve("out").toString
      val q = eventsStream(spark, dir)
        .withColumn("date_dir", date_format(col("ts"), "yyyyMMdd"))
        .drop("ts") // formatted into date_dir; JSON ts strings are the
                    // batch Backup's faithful-mode concern, not this job's
        // spread the epoch across writers keyed by leaf (same rationale
        // as s22's native path: source-file count must not cap gzip
        // parallelism, and per-leaf keying avoids the tasks×leaves
        // file explosion of a round-robin spread)
        .repartition(spark.sparkContext.defaultParallelism,
          col("event_type"), col("date_dir"))
        .writeStream
        .format("json")
        .option("compression", "gzip")
        .option("path", out)
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .partitionBy("event_type", "date_dir")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      val agg = spark.read.format("graftbackup").load(out)
        .groupBy(col("event_type"), col("date_dir"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("user_id")).cast("bigint").as("sum_uid"))
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(agg.collect(): _*)),
        agg.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }

  /** Streaming TAIL of a growing backup through the graftbackup DSv2
    * micro-batch source ([[graft.sources.BackupMicroBatchStream]]) —
    * the read-side complement of `Backup.incremental`: a base window
    * is backed up batch-side, the stream aggregates it, the backup is
    * then EXTENDED incrementally, and the next trigger picks up
    * exactly the appended chunk files (per-leaf sorted-count offsets,
    * no source-side log). Final complete-mode state must equal the
    * batch aggregate over the full window — which is what the oracle
    * checks; BackupStreamSpec additionally pins that batch 2 read only
    * the increment's rows. */
  def streamBackupTail(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_tail")
    try {
      val out = scratch.resolve("bak").toString
      val mid = java.time.Instant.parse("2024-01-15T00:00:00Z")
      val cfg = graft.config.BackupConfig(
        inputPath = s"$dir/events.parquet", outputPath = out,
        timeColumn = "ts", partitionColumn = "event_type",
        from = java.time.Instant.parse("2024-01-05T00:00:00Z"), to = mid)
      graft.operators.Backup.run(spark, cfg)
      val name = s"graft_stream_${nameSeq.incrementAndGet()}"
      val q = spark.readStream.format("graftbackup").load(out)
        .groupBy(col("event_type"), col("date_dir"))
        .agg(count(lit(1)).as("n_rows"))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .start()
      try {
        q.processAllAvailable() // batch 1: the base window's chunks
        graft.operators.Backup.incremental(spark, s"$dir/events.parquet",
          out, java.time.Instant.parse("2024-01-25T00:00:00Z"))
        q.processAllAvailable() // batch 2: exactly the appended chunks
      } finally q.stop()
      val agg = spark.table(name)
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(agg.collect(): _*)),
        agg.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }

  /** Checkpoint-restart recovery — the fault-tolerance contract a
    * production stream lives by: an aggregation runs over HALF the
    * input, the query STOPS (simulated failure/redeploy), and a brand-
    * new query started from the SAME checkpoint ingests the rest. The
    * recovered state must make the final counts equal the batch
    * computation over everything — exactly-once across the restart, no
    * loss, no double-count. Complete-mode memory sink: the final
    * trigger re-emits the whole recovered + updated state, which is
    * what the oracle checks. */
  def restartFromCheckpoint(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_ckpt_stream")
    val in = scratch.resolve("in")
    val ckpt = scratch.resolve("ckpt").toString
    java.nio.file.Files.createDirectories(in): Unit

    // stage the fixture as two halves with a stable split
    val batch = eventsBatch(spark, dir)
    stageParquet(batch.filter(col("user_id") % 2 === 0),
      scratch, in, "half_a"): Unit

    val schema = batch.schema
    def agg = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*.parquet")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"))

    def runOnce(): String = {
      val name = s"graft_stream_${nameSeq.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      name
    }

    try {
      runOnce(): Unit // first incarnation: half the input, then "dies"
      stageParquet(batch.filter(col("user_id") % 2 =!= 0),
        scratch, in, "half_b"): Unit
      val name2 = runOnce() // second incarnation recovers the state
      spark.table(name2)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      // the memory-sink table is what the caller reads; the staged
      // input + checkpoint are dead weight once the query stopped
      deleteRecursively(scratch)
    }
  }

  /** Custom state machine via flatMapGroupsWithState: per-user running
    * event count + value sum held in explicit GroupState (the
    * KeyValueGroupedDataset path the built-in aggs can't express when
    * state logic gets arbitrary). The fixture arrives as one file →
    * one micro-batch → each group emits exactly once with its final
    * state, so the result is deterministic and batch-checkable.
    */
  def customStateCounts(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    // value carried as exact cents (decimal(12,2) × 100) so the state
    // arithmetic is integral; cents/100.0 equals DuckDB's decimal→double
    val typed = eventsStream(spark, dir)
      .select(col("user_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long)]

    val updated = typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, c0) = state.getOption.getOrElse((0L, 0L))
          var n = n0
          var c = c0
          rows.foreach { r => n += 1; c += r._2 }
          state.update((n, c))
          Iterator((user, n, c))
      }

    runToCompletion(updated.toDF("user_id", "n_events", "cents"), mode = "append")
      .select(col("user_id"), col("n_events"),
        (col("cents").cast("double") / 100.0).as("sum_value"))
  }

  /** Modern arbitrary-state API (Spark 4 `transformWithState`): the
    * successor to s03's flatMapGroupsWithState, with NAMED composable
    * state variables instead of one opaque state object — here a
    * per-user event count and a running max (exact cents), each its
    * own ValueState the store tracks independently (so at scale a
    * schema change to one variable doesn't invalidate the other).
    * Requires the RocksDB state store provider — the one that bounds
    * executor heap by spilling state to local disk, i.e. the 100 TB
    * configuration, exercised here on purpose.
    *
    * Each micro-batch emits every touched key's current state; both
    * outputs are monotone (count, max), so the final per-key max over
    * emissions equals the final state at ANY batch count — the
    * post-aggregation keeps the result batch-count-invariant (the
    * fixture is 1 file at sf0.01 but ~4 triggers at sf1).
    */
  def transformWithStateCounts(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
      TTLConfig, TimeMode, TimerValues, ValueState}

    val typed = eventsStream(spark, dir)
      .select(col("user_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long)]

    class CountMaxProcessor
        extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
      @transient private var nState: ValueState[Long] = _
      @transient private var maxState: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        nState = getHandle.getValueState[Long](
          "n_events", Encoders.scalaLong, TTLConfig.NONE)
        maxState = getHandle.getValueState[Long](
          "max_cents", Encoders.scalaLong, TTLConfig.NONE)
      }
      override def handleInputRows(
          user: Long,
          rows: Iterator[(Long, Long)],
          timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
        var n = if (nState.exists()) nState.get() else 0L
        var mx = if (maxState.exists()) maxState.get() else Long.MinValue
        rows.foreach { r => n += 1; mx = math.max(mx, r._2) }
        nState.update(n)
        maxState.update(mx)
        Iterator((user, n, mx))
      }
    }

    val updated = typed.groupByKey(_._1)
      .transformWithState(new CountMaxProcessor,
        TimeMode.None(), OutputMode.Append())

    runToCompletion(updated.toDF("user_id", "n", "max_cents"), mode = "append")
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"),
        (max(col("max_cents")).cast("double") / 100.0).as("max_value"))
  }

  /** foreachBatch — the production escape hatch when the destination
    * isn't one of the built-in sinks (multi-destination writes, JDBC,
    * merge-into, …): each micro-batch arrives as a BATCH DataFrame
    * plus its batchId, and exactly-once is the USER's contract to keep
    * by making the write idempotent on batchId. Here each batch lands
    * in its own `batch=<id>` directory with mode=overwrite — a REPLAYED
    * batch (failure between write and checkpoint commit) overwrites
    * the same directory instead of double-appending, which is the
    * documented idempotence recipe. A second in-loop aggregate write
    * demonstrates the multi-destination shape the built-in sinks can't
    * express. Read-back of the per-batch directories must equal the
    * batch computation over everything.
    */
  def foreachBatchSink(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_feb")
    try {
      val rows = scratch.resolve("rows").toString
      val sums = scratch.resolve("sums").toString
      val q = eventsStream(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
        .writeStream
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // destination 1: raw rows, idempotent per-batch directory
          batch.write.mode("overwrite").parquet(s"$rows/batch=$batchId")
          // destination 2: per-batch pre-aggregate (the second sink a
          // built-in single-destination stream can't also feed)
          batch.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
            .write.mode("overwrite").parquet(s"$sums/batch=$batchId")
        }
        .start()
      try q.processAllAvailable() finally q.stop()

      // merge the per-batch pre-aggregates (mergeable state: count+sum)
      val agg = spark.read.parquet(sums)
        .groupBy(col("user_id"))
        .agg(sum(col("n")).as("n_purchases"),
          (sum(col("c")).cast("double") / 100.0).as("sum_value"))
      // cross-check destination 1 carries the same rows
      val nRows = spark.read.parquet(rows).count()
      val nAgg = agg.agg(sum(col("n_purchases"))).head.getLong(0)
      require(nRows == nAgg, s"sink mismatch: $nRows raw vs $nAgg aggregated")
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(agg.collect(): _*)),
        agg.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }

  // ---- streaming index maintenance (s23/s24) -------------------------

  /** One micro-batch's LSH-index increment: the batch's raw (band,
    * bucket, doc_id) postings land in their own `batch=<id>` directory
    * with mode=overwrite — idempotent on replay, the s13 recipe. The
    * occupancy cap is a corpus-GLOBAL property, so the maintained index
    * stores RAW postings and [[graft.dedup.Dedup.capPostings]] applies
    * the cap at probe time; that split is what makes increments
    * order-independent and convergent to the batch-rebuilt index.
    * Public (not inlined in the foreachBatch closure) so the chaos/
    * idempotence specs can replay a batch directly. */
  def appendLshPostings(batch: DataFrame, batchId: Long,
                        destDir: String): Unit =
    graft.dedup.Dedup.bandBuckets(batch)
      .write.mode("overwrite").parquet(s"$destDir/batch=$batchId")

  /** One micro-batch's PQ code-index increment: encode the batch's
    * vectors (one codegen pass, no shuffle) and land (vec_id, codes)
    * in an idempotent `batch=<id>` directory. Encoding is per-row
    * against the FIXED trained codebooks, so increments trivially
    * converge to [[graft.similarity.Pq.writeIndex]]'s batch rebuild —
    * the streaming value is that a 100 TB corpus's ~3 TB code index
    * absorbs the daily feed without ever re-encoding the corpus. */
  def appendPqCodes(batch: DataFrame, batchId: Long,
                    destDir: String): Unit =
    graft.similarity.Pq.withCodes(batch)
      .select(col("vec_id"), col("codes"))
      .write.mode("overwrite").parquet(s"$destDir/batch=$batchId")

  /** Stage `df` into `streamDir` as `nSplits` parquet files split
    * round-robin on `idCol` — a deterministic multi-batch feed for
    * file-source jobs whose semantics must be batch-order-invariant. */
  private def stageSplits(df: DataFrame, idCol: String, nSplits: Int,
                          scratch: java.nio.file.Path,
                          streamDir: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(streamDir): Unit
    (0 until nSplits).foreach { i =>
      stageParquet(df.filter(pmod(col(idCol), lit(nSplits)) === lit(i)),
        scratch, streamDir, f"split_$i%03d"): Unit
    }
  }

  /** Streaming LSH-index maintenance (s23) — the streaming half of
    * x51's "index built once, probed by increments" story: the corpus
    * (every non-src7 document) arrives as a file STREAM and each
    * micro-batch appends its postings via [[appendLshPostings]]; after
    * the stream drains, the src7 increment probes the capped view of
    * the maintained index. Result ≡ x51 (probe of the batch-rebuilt
    * index) — same oracle SQL, which is exactly the convergence claim. */
  def streamingLshIndexMaintain(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_sidx")
    try {
      val docs = graft.Tables.documents(spark, dir)
      val corpus = docs.filter(col("source") =!= "src7")
      val streamDir = scratch.resolve("in")
      stageSplits(corpus, "doc_id", 4, scratch, streamDir)
      val postings = scratch.resolve("lsh").toString
      val q = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/*.parquet")
        .writeStream
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          appendLshPostings(batch, batchId, postings)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val idx = graft.dedup.Dedup.capPostings(spark.read.parquet(postings))
      val probe = graft.dedup.Dedup.lshProbePairs(idx,
        docs.filter(col("source") === "src7"))
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(probe.collect(): _*)),
        probe.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }

  /** Streaming PQ code-index maintenance (s24) — x56's persisted index
    * built by INCREMENTS: the embedding corpus streams in, each batch
    * appends its codes via [[appendPqCodes]], and the post-stream ADC
    * probe of the maintained index must rank identically to x52's live
    * scan (same oracle SQL). */
  def streamingPqIndexMaintain(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_spq")
    try {
      val emb = graft.Tables.embeddings(spark, dir)
      val streamDir = scratch.resolve("in")
      stageSplits(emb, "vec_id", 4, scratch, streamDir)
      val codes = scratch.resolve("pq").toString
      val q = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/*.parquet")
        .writeStream
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          appendPqCodes(batch, batchId, codes)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val idx = spark.read.parquet(codes).select(col("vec_id"), col("codes"))
      val probe = graft.similarity.Pq.probeIndex(spark, idx, emb,
        queryVecId = 0, k = 10)
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(probe.collect(): _*)),
        probe.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }

  /** Streaming dedup GATE (s25) — dedup-on-ingest, the production
    * counterpart of s23's index maintenance: the corpus LSH index is
    * built once (yesterday's batch job, persisted parquet), the new
    * feed STREAMS in, and each micro-batch admits only documents with
    * NO near-dup candidate against the index — duplicates never land.
    * The admit decision for a document depends only on its own
    * postings × the static index, so the union of per-batch survivors
    * is invariant to batching (asserted in StreamingIndexSpec) and
    * equals the one-shot anti-join the oracle runs. Per-batch output
    * dirs are keyed by batchId, so a replayed batch overwrites instead
    * of double-admitting — the same idempotence contract as
    * foreachBatchSink. At 100 TB: the index is the pre-capped posting
    * table partitioned by (band, bucket); each increment batch joins
    * O(batch × fanout) posting rows against it — never a corpus
    * rescan, and the gate's admit rate is observable per batch. */
  def streamingDedupGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_sgate")
    try {
      val docs = graft.Tables.documents(spark, dir)
      val idxPath = scratch.resolve("idx").toString
      graft.dedup.Dedup.lshIndex(docs.filter(col("source") =!= "src7"))
        .write.mode("overwrite").parquet(idxPath)
      val feed = docs.filter(col("source") === "src7")
      val streamDir = scratch.resolve("in")
      stageSplits(feed, "doc_id", 4, scratch, streamDir)
      val accepted = scratch.resolve("accepted").toString
      val q = spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/*.parquet")
        .writeStream
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val ses = batch.sparkSession
          val dup = graft.dedup.Dedup
            .lshProbePairs(ses.read.parquet(idxPath), batch)
            .select(col("new_doc").as("doc_id")).distinct()
          batch.join(dup, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("n_chars"))
            .write.mode("overwrite").parquet(s"$accepted/batch=$batchId")
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val admitted = spark.read.parquet(accepted)
        .select(col("doc_id"), col("n_chars"))
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(admitted.collect(): _*)),
        admitted.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }

  /** Streaming ROLLING ingest (s26) — s25's gate and s23's index
    * maintenance COMPOSED into the continuous production loop: daily
    * batches arrive as a stream (one staged file per trigger, day
    * order encoded in mtimes — the file source processes oldest
    * first), and each micro-batch probes the occupancy-capped view of
    * the posting log AS OF THE PREVIOUS BATCH, admits only
    * candidate-free docs, and appends the admitted docs' postings —
    * the index the next day is gated on includes this day's
    * admissions. Outputs are keyed by the DAY carried in the data
    * (each staged file is one source), not by batchId, so a replayed
    * trigger overwrites its own day instead of double-admitting. Must
    * converge to x60's batch rolling pipeline exactly — it shares
    * x60's oracle SQL verbatim, the same convergence contract as
    * s23 ≡ x51. At 100 TB this is the always-on shape: the stream IS
    * the ingest schedule, the posting log is the only cross-day
    * state, and each trigger costs O(batch × fanout) + one
    * O(postings) cap aggregate. */
  def streamingRollingIngest(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_sroll")
    try {
      val docs = graft.Tables.documents(spark, dir)
      val days = Seq("src7", "src8", "src9")
      val dayOf = days.zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
      val postings = scratch.resolve("postlog").toString
      graft.dedup.Dedup
        .bandBuckets(docs.filter(!col("source").isin(days: _*)))
        .write.mode("overwrite").parquet(s"$postings/batch=base")
      val streamDir = scratch.resolve("in")
      java.nio.file.Files.createDirectories(streamDir): Unit
      days.zipWithIndex.foreach { case (day, i) =>
        val f = stageParquet(docs.filter(col("source") === day), scratch,
          streamDir, s"day${i + 1}")
        bumpMtimeOrFail(f, 1000000L * (i + 1),
          "a mis-ordered day would gate day 1 on day 2's admissions")
      }
      val admitted = scratch.resolve("admitted").toString
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/*.parquet")
        .writeStream
        .option("checkpointLocation", scratch.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val ses = batch.sparkSession
          // one staged file per trigger → one source per batch; an
          // empty no-data batch has no day and nothing to do
          val srcs = batch.select(col("source")).distinct()
            .collect().map(_.getString(0))
          if (srcs.nonEmpty) {
            require(srcs.length == 1 && dayOf.contains(srcs.head),
              s"rolling trigger saw sources ${srcs.toSeq} — staging broke " +
                "the one-day-per-trigger contract")
            val k = dayOf(srcs.head)
            // r17 opt: ONE signature pass per trigger — batch postings
            // computed once feed both the probe and the posting append
            // (x60's day-loop discipline; the semi-join is row-identical
            // to bandBuckets(adm) because postings are per-doc)
            val batchPost = graft.dedup.Dedup.bandBuckets(batch).persist()
            // list the log fresh per trigger: previous days' appends
            // are visible, this day's own is not yet written
            val capped = graft.dedup.Dedup
              .capPostings(ses.read.parquet(postings))
            val adm = batch.join(
              graft.dedup.Dedup.lshProbePairsFromPostings(capped, batchPost)
                .select(col("new_doc").as("doc_id")).distinct(),
              Seq("doc_id"), "left_anti")
              .persist()
            try {
              adm.select(lit(k).as("ingest_day"), col("doc_id"),
                col("n_chars"))
                .write.mode("overwrite").parquet(s"$admitted/day=$k")
              batchPost
                .join(adm.select(col("doc_id")), Seq("doc_id"), "left_semi")
                .write.mode("overwrite").parquet(s"$postings/batch=day$k")
            } finally {
              adm.unpersist(blocking = false): Unit
              batchPost.unpersist(blocking = false): Unit
            }
          }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val out = spark.read.parquet(admitted)
        .select(col("ingest_day"), col("doc_id"), col("n_chars"))
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(out.collect(): _*)),
        out.schema)
    } finally {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case scala.util.control.NonFatal(_) => () }
      deleteRecursively(scratch)
    }
  }
}
