package perfbench

import java.io.File
import java.time.Instant

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.config.BackupConfig
import graft.operators.{Backup, Restore}

/** The paper's pipeline at a size where per-row work dominates: repeated
  * full-window `Backup.run` in faithful-strings mode, then `Backup.fsck`,
  * then `Restore.run`. One op is one such round trip. */
object BulkBackup extends Workload {
  val Rows = 60000L
  /** Untimed round trips before the timed ones. */
  val WarmTrips = 2
  /** Nominal wall of one round trip at the commit that defined the
    * benchmark. A run makes `seconds / NominalTripSeconds` timed round
    * trips (at least [[MinTrips]]), a count fixed by `--seconds` alone:
    * the round trips still speed up trip by trip as the JIT warms, so a
    * sample count that followed speed would move the median by itself. */
  val NominalTripSeconds = 2.5
  val MinTrips = 3
  val Days = 3
  val Start: Instant = Instant.parse("2024-03-01T00:00:00Z")

  final case class State(input: String, schema: StructType, windowRows: Long,
                         hash: BigDecimal)

  def stage(ctx: Ctx): State = {
    val in = new File(ctx.dir("bulk-in"), "events.parquet").getPath
    Gen.events(ctx.spark, ctx.seed, Rows, Start.toEpochMilli * 1000,
      Days * 86400L * 1000000).write.mode("overwrite").parquet(in)
    val src = ctx.spark.read.parquet(in)
    val window = src.filter(col("event_type").isNotNull)
    State(in, src.schema, window.count(), Gen.contentHash(window))
  }

  /** Untimed round trips, so the timed ones run compiled code. */
  override def warm(ctx: Ctx, st: State): Unit = (1 to WarmTrips).foreach { _ =>
    val out = new File(ctx.work, "bulk-backup").getPath
    Backup.run(ctx.spark, config(st.input, out), faithfulStrings = true)
    Backup.fsck(ctx.spark, out, "event_type").count()
    Restore.run(ctx.spark, out, st.schema, "event_type",
      new File(ctx.work, "bulk-restore").getPath).count()
  }

  private def config(in: String, out: String) = BackupConfig(
    inputPath = in, outputPath = out, timeColumn = "ts",
    partitionColumn = "event_type",
    from = Start.minusSeconds(86400), to = Start.plusSeconds((Days + 1) * 86400L))

  def measure(ctx: Ctx, st: State): Result = {
    val spark = ctx.spark
    val t = ctx.tracer
    val out = new File(ctx.work, "bulk-backup").getPath
    val restored = new File(ctx.work, "bulk-restore").getPath
    val trips = math.max(MinTrips, (ctx.seconds / NominalTripSeconds).toInt)
    var attempted, failed = 0
    val backupRate, restoreRate, walls = Seq.newBuilder[Double]
    val opSpans = Seq.newBuilder[Span]
    var chunks, bytes = 0L
    while (attempted < trips) {
      attempted += 1
      try {
        val (fsckRow, span) = t.op("round trip") {
          val t0 = t.now()
          t.call("operators.backup")(
            Backup.run(spark, config(st.input, out), faithfulStrings = true))
          val t1 = t.now()
          val f = t.call("operators.fsck")(
            Backup.fsck(spark, out, "event_type").agg(
              sum(col("rows")),
              sum(when(!col("readable") || !col("crcOk") || !col("envelopeOk"),
                1).otherwise(0))).head())
          val t2 = t.now()
          t.call("operators.restore")(
            Restore.run(spark, out, st.schema, "event_type", restored))
          val t3 = t.now()
          backupRate += st.windowRows / ((t1 - t0) / 1e9)
          restoreRate += st.windowRows / ((t3 - t2) / 1e9)
          f
        }
        walls += span.seconds
        opSpans += span
        val (n, b) = Workload.chunkStats(new File(out))
        chunks = n; bytes = b
        val ok = t.untimed {
          fsckRow.getLong(0) == st.windowRows && fsckRow.getLong(1) == 0L &&
            Gen.contentHash(spark.read.parquet(restored)) == st.hash
        }
        if (!ok) {
          failed += 1
          System.err.println(s"bulk_backup: round trip $attempted failed its check")
        }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"bulk_backup: round trip $attempted threw $e")
      }
    }
    val w = walls.result()
    val ops = opSpans.result()
    val rows = st.windowRows.toDouble
    val layers = if (!t.enabled) Map.empty[String, Double] else {
      val n = math.max(1, ops.size).toDouble
      def callS(name: String) =
        t.calls.filter(_.name == name).map(_.seconds).sum / n
      val backupCalls = t.calls.filter(_.name == "operators.backup")
      val backupJobs = ops.map { o =>
        t.jobsOf(o).count(j => backupCalls.exists(c =>
          c.parent == o.id && j.start >= c.start && j.start <= c.end))
      }.sum
      Map(
        "operators.backup_s" -> callS("operators.backup"),
        "operators.backup_jobs" -> backupJobs / n,
        "operators.fsck_s" -> callS("operators.fsck"),
        "operators.restore_s" -> callS("operators.restore"),
        "sink.chunks" -> chunks.toDouble,
        "sink.written_mib" -> bytes / 1048576.0,
        "sink.chunk_fill" -> (if (chunks == 0) 0.0 else rows / chunks / 1000.0),
        "sink.commit_s" -> t.sinkCommitSeconds(ops) / n)
    }
    Result(
      samples = w,
      rowsPerS = if (w.isEmpty) 0.0 else rows * w.size / w.sum,
      attempted = attempted, failed = failed,
      named = Seq(
        ("backup_rows_per_s", med(backupRate.result()), "rows/s"),
        ("restore_rows_per_s", med(restoreRate.result()), "rows/s"),
        ("stored_bytes_per_row", bytes / rows, "B/row"),
        ("window_rows", rows, "rows"),
        ("input_mib", Workload.mib(new File(st.input)), "MiB")),
      layers = layers)
  }

  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
