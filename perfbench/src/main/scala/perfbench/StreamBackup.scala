package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming backup. Seeded event files land in a directory; a
  * `graftbackup` writeStream, keyed by leaf (partition value and day),
  * writes them, and a `graftbackup` readStream tail follows the root.
  * Phase 1 drains a backlog staged before the queries start (the
  * catch-up rate). Phase 2 is a closed loop: each op lands a small burst
  * and ends when the tail has seen all of it. Phase 3 is an open loop:
  * one generator thread lands a file every [[PeriodMs]], and each file's
  * lag runs from its due time to its first appearance in the tail. */
object StreamBackup extends Workload {
  val BacklogFiles = 12
  val BacklogRowsPerFile = 1500L
  val MaxFilesPerTrigger = 6
  /** Files of the untimed warm-up stream, each of [[BurstRows]] rows:
    * three bursts' worth, so the first timed burst runs compiled code. */
  val WarmFiles = 18
  /** Phase 2: a burst of [[BurstFiles]] files of [[BurstRows]] rows is
    * landed only once the tail has seen the previous one. A run makes
    * `seconds * BurstShare / NominalBurstSeconds` bursts (at least
    * [[MinBursts]]), a count fixed by `--seconds` alone. */
  val BurstFiles = 6
  val BurstRows = 3000L
  val BurstShare = 0.75
  val NominalBurstSeconds = 2.0
  val MinBursts = 3
  /** Phase 3: one file of [[RowsPerFile]] rows every [[PeriodMs]], for
    * `seconds * OpenLoopShare`. */
  val PeriodMs = 400L
  val RowsPerFile = 100L
  val OpenLoopShare = 0.25
  val TriggerMs = 20L
  val Start: java.time.Instant = java.time.Instant.parse("2024-07-01T00:00:00Z")

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("file", LongType), StructField("due_ms", LongType)))

  final case class State(land: File, out: File, work: File)

  /** File `i`'s rows: ids `[i * 10^6, i * 10^6 + rows)`, each an hour's
    * slice of the generator's timeline. Writes the file under a hidden
    * temporary name, which the source does not read, and returns that
    * file and its rows with a non-NULL event type; [[publish]] lands it. */
  def writeFile(dir: File, seed: Long, i: Long, rows: Long, dueMs: Long): (File, Long) = {
    val tmp = new File(dir, f".f-$i%06d.json.tmp")
    val w = new PrintWriter(tmp, "UTF-8")
    var nonNull = 0L
    try (0L until rows).foreach { k =>
      val e = Gen.row(seed, i * 1000000L + k, rows,
        Start.toEpochMilli * 1000 + i * 3600L * 1000000, 3600L * 1000000)
      if (e.event_type != null) nonNull += 1
      val et = if (e.event_type == null) "null" else Json.str(e.event_type)
      w.println(s"""{"event_id":${e.event_id},"ts_us":${Gen.toMicros(e.ts)},"user_id":${e.user_id},""" +
        s""""event_type":$et,"value":${e.value},"props":${Json.str(e.props)},""" +
        s""""file":$i,"due_ms":$dueMs}""")
    } finally w.close()
    (tmp, nonNull)
  }

  /** Lands a file written by [[writeFile]] with an atomic rename. */
  def publish(dir: File, tmp: File, i: Long): Unit =
    Files.move(tmp.toPath, new File(dir, f"f-$i%06d.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)

  def landFile(dir: File, seed: Long, i: Long, rows: Long, dueMs: Long): Long = {
    val (tmp, nonNull) = writeFile(dir, seed, i, rows, dueMs)
    publish(dir, tmp, i)
    nonNull
  }

  def stage(ctx: Ctx): State = {
    val land = ctx.dir("stream-land")
    (0 until BacklogFiles).foreach(i =>
      landFile(land, ctx.seed, i, BacklogRowsPerFile, 0L))
    State(land, new File(ctx.work, "stream-out"),
      ctx.dir("stream-ckpt"))
  }

  /** The leaf-keyed `graftbackup` writeStream from `land` to `out`. */
  def writer(ctx: Ctx, land: File, out: File, ckpt: File): StreamingQuery =
    ctx.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toLong)
      .json(land.getPath)
      .where(col("event_type").isNotNull)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"),
        col("file"), col("due_ms"))
      .repartition(ctx.spark.sparkContext.defaultParallelism,
        col("event_type"), to_date(col("ts")))
      .writeStream.format("graftbackup").queryName("perfbench_writer")
      .option("partitionColumns", "event_type")
      .option("timeColumn", "ts")
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .outputMode("append")
      .start(out.getPath)

  /** A `graftbackup` readStream tail of `out`, each micro-batch handed
    * to `onBatch`. */
  def tail(ctx: Ctx, out: File, ckpt: File)(onBatch: DataFrame => Unit): StreamingQuery =
    ctx.spark.readStream.format("graftbackup").load(out.getPath)
      .writeStream.queryName("perfbench_tail")
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch((df: DataFrame, _: Long) => onBatch(df))
      .start()

  /** Both queries over a few files of their own, drained and stopped. */
  override def warm(ctx: Ctx, st: State): Unit = {
    val land = ctx.dir("stream-warm-land")
    (0 until WarmFiles).foreach(i =>
      landFile(land, ctx.seed, i, BurstRows, 0L))
    val out = new File(ctx.work, "stream-warm-out")
    val w = writer(ctx, land, out, new File(ctx.work, "stream-warm-writer"))
    try w.processAllAvailable() finally w.stop()
    val tq = tail(ctx, out, new File(ctx.work, "stream-warm-tail"))(_.count(): Unit)
    try tq.processAllAvailable() finally tq.stop()
  }

  /** Per (event_type, day): rows and sum(user_id). */
  private def leafAgg(df: DataFrame, day: org.apache.spark.sql.Column) =
    df.groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("s"))

  def measure(ctx: Ctx, st: State): Result = {
    val spark = ctx.spark
    val t = ctx.tracer
    // per landed file: when the tail first saw it (epoch ms), rows seen
    val firstSeen = new ConcurrentHashMap[Long, Long]()
    val seenRows = new ConcurrentHashMap[Long, Long]()
    val tailState = new ConcurrentHashMap[String, (Long, Long)]()
    var attempted, failed = 0
    val bursts, lags, late, backlog = Seq.newBuilder[Double]

    def startTail() = tail(ctx, st.out, new File(st.work, "tail")) { df =>
      val now = System.currentTimeMillis()
      df.groupBy(col("file"), col("event_type"), col("date_dir"))
        .agg(count(lit(1)), sum(col("user_id").cast("long")))
        .collect().foreach { r =>
          val f = r.getLong(0)
          firstSeen.putIfAbsent(f, now)
          seenRows.merge(f, r.getLong(3), (a: Long, b: Long) => a + b)
          tailState.merge(s"${r.getString(1)}/${r.getString(2)}",
            (r.getLong(3), r.getLong(4)),
            (a: (Long, Long), b: (Long, Long)) => (a._1 + b._1, a._2 + b._2))
        }
    }

    var expectedRows = Map.empty[Long, Long]
    var dues = Map.empty[Long, Long]
    var wq: StreamingQuery = null
    var tq: StreamingQuery = null
    def waitSeen(files: Seq[Long], timeoutMs: Long): Boolean = {
      val until = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < until &&
        !files.forall(f => seenRows.getOrDefault(f, 0L) >= expectedRows(f)))
        Thread.sleep(5)
      files.forall(f => seenRows.getOrDefault(f, 0L) >= expectedRows(f))
    }
    var catchup = 0.0
    var burstRows = 0L
    try {
      val backlogIds = (0L until BacklogFiles).toSeq
      expectedRows = t.untimed {
        spark.read.schema(schema).json(st.land.getPath)
          .where(col("event_type").isNotNull).groupBy(col("file")).count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      attempted += 1
      val (_, p1) = t.op("phase 1 drain") {
        wq = writer(ctx, st.land, st.out, new File(st.work, "writer"))
        val meta = new File(st.out, "_GRAFT_META.json")
        while (!meta.exists() && wq.isActive) Thread.sleep(5)
        tq = startTail()
        if (!waitSeen(backlogIds, 120000))
          throw new IllegalStateException("backlog not drained")
      }
      catchup = expectedRows.values.sum / p1.seconds

      // phase 2: closed loop, one burst at a time, each an op
      var next = BacklogFiles.toLong
      val nBursts = math.max(MinBursts, (ctx.seconds * BurstShare / NominalBurstSeconds).toInt)
      (1 to nBursts).foreach { b =>
        val ids = (next until next + BurstFiles).toSeq
        next += BurstFiles
        attempted += 1
        // the burst is written first and then lands at once, so the op
        // times the queries, not the generator
        val files = ids.map { i =>
          val (tmp, n) = writeFile(st.land, ctx.seed, i, BurstRows, 0L)
          expectedRows += i -> n
          i -> tmp
        }
        val (_, span) = t.op(s"burst $b") {
          files.foreach { case (i, tmp) => publish(st.land, tmp, i) }
          if (!waitSeen(ids, 60000))
            throw new IllegalStateException(s"burst $b not drained")
        }
        bursts += span.seconds
        burstRows += ids.map(expectedRows).sum
      }

      // phase 3: open loop, one file every PeriodMs
      val nFiles = math.max(1L, (ctx.seconds * OpenLoopShare * 1000 / PeriodMs).toLong)
      val ids = (next until next + nFiles).toSeq
      t.op("phase 3 open loop") {
        // due times sit half a trigger interval into the triggers' grid
        // (processing-time triggers fire on multiples of TriggerMs)
        val t0 = (System.currentTimeMillis() / TriggerMs + 3) * TriggerMs +
          TriggerMs / 2
        ids.zipWithIndex.foreach { case (i, k) =>
          val due = t0 + k * PeriodMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          expectedRows += i -> landFile(st.land, ctx.seed, i, RowsPerFile, due)
          dues += i -> due
          late += (System.currentTimeMillis() - due) / 1e3
          backlog += (ids.head + k + 1 - firstSeen.size).toDouble
        }
        waitSeen(ids, 60000)
      }
      ids.foreach { i =>
        attempted += 1
        if (firstSeen.containsKey(i)) lags += (firstSeen.get(i) - dues(i)) / 1e3
        else {
          failed += 1
          System.err.println(s"stream_backup: file $i never reached the tail")
        }
      }
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"stream_backup: $e")
    } finally {
      Seq(tq, wq).filter(_ != null).foreach(_.stop())
    }

    // final tail state equals the batch aggregate of every landed file,
    // with no file's rows lost or duplicated across epochs
    attempted += 1
    val ok = t.untimed {
      val landed = spark.read.schema(schema).json(st.land.getPath)
        .where(col("event_type").isNotNull)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val want = leafAgg(landed, date_format(col("ts"), "yyyyMMdd")).collect()
        .map(r => s"${r.getString(0)}/${r.getString(1)}" -> (r.getLong(2), r.getLong(3)))
        .toMap
      val got = tailState.asScala.toMap
      val perFile = expectedRows.forall { case (f, n) => seenRows.get(f) == n }
      got == want && perFile && seenRows.size == expectedRows.size
    }
    if (!ok) {
      failed += 1
      System.err.println("stream_backup: tail state differs from the landed files")
    }

    val l = lags.result()
    val layers = if (!t.enabled) Map.empty[String, Double] else {
      val trig = t.triggers.asScala.toSeq
        .filter(x => x.query == "perfbench_writer" && x.rows > 0)
      def meanOf(k: String) =
        if (trig.isEmpty) 0.0 else trig.map(_.durations.getOrElse(k, 0L)).sum / 1e3 / trig.size
      Map(
        "stream.batches" -> trig.size.toDouble,
        "stream.rows_per_batch" ->
          (if (trig.isEmpty) 0.0 else trig.map(_.rows).sum.toDouble / trig.size),
        "stream.trigger_s" -> meanOf("triggerExecution"),
        "stream.add_batch_s" -> meanOf("addBatch"),
        "stream.latest_offset_s" -> meanOf("latestOffset"),
        "stream.wal_commit_s" -> meanOf("walCommit"),
        "stream.backlog_files" -> med(backlog.result()),
        "stream.generator_late_s" -> med(late.result()))
    }
    Result(
      samples = bursts.result(),
      rowsPerS = if (bursts.result().isEmpty) 0.0 else burstRows / bursts.result().sum,
      attempted = attempted, failed = failed,
      named = Seq(
        ("stream_catchup_rows_per_s", catchup, "rows/s"),
        ("stream_burst_p50_s", med(bursts.result()), "s"),
        ("stream_lag_p50_s", med(l), "s"),
        ("stream_lag_tail_s", if (l.isEmpty) 0.0 else Stats.tail(l).value, "s"),
        ("generator_late_p50_s", med(late.result()), "s"),
        ("landed_rows", expectedRows.values.sum.toDouble, "rows"),
        ("landed_mib", Workload.mib(st.land), "MiB")),
      layers = layers)
  }

  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
