package perfbench

import java.io.File
import java.sql.Timestamp
import java.time.Instant

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.BackupConfig
import graft.operators.Backup
import graft.sources.BackupSource

/** Writes beside reads on the connector. Set-up backs up the first day.
  * Each step appends the next hour with `Backup.incremental` and lists
  * the root with `BackupSource.layout` (one op), then runs each of the
  * [[Kinds]] of `graftbackup` read on the growing root (one op each), in
  * a seeded order with seeded predicates. */
object HourlyIngest extends Workload {
  val RowsPerHour = 500L
  val BaseHours = 24
  val ExtraHours = 24
  /** Nominal wall of one step (an append and its reads) at the commit
    * that defined the benchmark. A run makes `seconds / NominalStepSeconds`
    * steps (at least [[MinSteps]]), a count fixed by `--seconds` alone: a
    * step count that followed speed moved the median and switched the
    * tail between a percentile and the maximum. */
  val NominalStepSeconds = 1.6
  val MinSteps = 5
  val WarmSteps = 2
  val Start: Instant = Instant.parse("2024-05-01T00:00:00Z")
  val Kinds: Seq[String] =
    Seq("partition_agg", "narrow_window", "count_pushdown", "newest_n", "catalog_sql")
  val NewestN = 50
  private val From = Start.minusSeconds(3600)

  final case class State(input: String, warehouse: String, root: String)

  def stage(ctx: Ctx): State = {
    val spark = ctx.spark
    val hours = BaseHours + ExtraHours
    val in = new File(ctx.dir("hourly-in"), "events.parquet").getPath
    Gen.events(spark, ctx.seed, RowsPerHour * hours, Start.toEpochMilli * 1000,
      hours * 3600L * 1000000).write.mode("overwrite").parquet(in)
    val wh = ctx.dir("hourly-wh")
    val root = new File(wh, "bench/events").getPath
    Backup.run(spark, BackupConfig(inputPath = in, outputPath = root,
      from = From, to = Start.plusSeconds(BaseHours * 3600L)))
    State(in, wh.getPath, root)
  }

  private def read(ctx: Ctx, st: State, kind: String): DataFrame =
    if (kind == "catalog_sql") ctx.spark.sql("SELECT * FROM pb.bench.events")
    else ctx.spark.read.format("graftbackup").load(st.root)

  /** [[WarmSteps]] untimed steps: each appends an hour to a throwaway
    * backup of the first day and runs every read kind on the staged
    * root, so the timed steps run compiled code. */
  override def warm(ctx: Ctx, st: State): Unit = {
    val spark = ctx.spark
    val root = new File(ctx.dir("hourly-warm"), "events").getPath
    Backup.run(spark, BackupConfig(inputPath = st.input, outputPath = root,
      from = From, to = Start.plusSeconds(BaseHours * 3600L)))
    catalog(ctx, st)
    val lo = Timestamp.from(Start)
    val hi = Timestamp.from(Start.plusSeconds(1800))
    (1 to WarmSteps).foreach { i =>
      Backup.incremental(spark, st.input, root, Start.plusSeconds((BaseHours + i) * 3600L))
      BackupSource.layout(root)
      Kinds.foreach(k => answer(k, read(ctx, st, k), Gen.EventTypes.head, lo, hi))
    }
  }

  private def catalog(ctx: Ctx, st: State): Unit = {
    ctx.spark.conf.set("spark.sql.catalog.pb", "graft.sources.BackupCatalog")
    ctx.spark.conf.set("spark.sql.catalog.pb.warehouse", st.warehouse)
  }

  /** One read's answer through the connector. */
  private def answer(kind: String, df: DataFrame, part: String,
                     lo: Timestamp, hi: Timestamp): Seq[String] = {
    def countSum(d: DataFrame) =
      d.agg(count(lit(1)), sum(col("user_id").cast("long"))).collect()
        .map(r => s"${r.getLong(0)},${Option(r.get(1)).getOrElse("null")}").toSeq
    kind match {
      case "partition_agg" => countSum(df.where(col("event_type") === part))
      case "narrow_window" =>
        countSum(df.where(col("ts") >= lit(lo) && col("ts") < lit(hi)))
      case "count_pushdown" => df.agg(count(lit(1))).collect().map(_.getLong(0).toString).toSeq
      case "newest_n" =>
        df.orderBy(col("ts").desc).limit(NewestN)
          .select(col("ts").cast("timestamp")).collect()
          .map(r => Gen.toMicros(r.getTimestamp(0)).toString).toSeq
      case "catalog_sql" =>
        df.groupBy(col("event_type")).agg(count(lit(1)).as("n")).collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.toSeq
    }
  }

  /** The same read on the generated rows, in memory: (answer, rows the
    * read's predicate selects). */
  private def oracle(kind: String, rows: Seq[Event], part: String,
                     lo: Timestamp, hi: Timestamp): (Seq[String], Long) = {
    def countSum(xs: Seq[Event]) = Seq(
      s"${xs.size},${if (xs.isEmpty) "null" else xs.map(_.user_id).sum.toString}")
    kind match {
      case "partition_agg" =>
        val xs = rows.filter(_.event_type == part)
        (countSum(xs), xs.size)
      case "narrow_window" =>
        val xs = rows.filter(r => !r.ts.before(lo) && r.ts.before(hi))
        (countSum(xs), xs.size)
      case "count_pushdown" => (Seq(rows.size.toString), rows.size)
      case "newest_n" =>
        (rows.map(r => Gen.toMicros(r.ts)).sorted(Ordering[Long].reverse)
          .take(NewestN).map(_.toString), rows.size)
      case "catalog_sql" =>
        (rows.groupBy(_.event_type).map { case (k, v) => s"$k=${v.size}" }
          .toSeq.sorted, rows.size)
    }
  }

  def measure(ctx: Ctx, st: State): Result = {
    val spark = ctx.spark
    val t = ctx.tracer
    catalog(ctx, st)
    // the generated rows a backup of [From, covered] holds
    val src: Seq[Event] = t.untimed {
      import spark.implicits._
      spark.read.parquet(st.input).as[Event].collect().toSeq
    }.filter(r => r.event_type != null && !r.ts.before(Timestamp.from(From)))
    def upTo(i: Instant) = src.filter(r => !r.ts.after(Timestamp.from(i)))
    val rootFile = new File(st.root)
    val steps = math.min(ExtraHours,
      math.max(MinSteps, (ctx.seconds / NominalStepSeconds).toInt))
    var covered = Start.plusSeconds(BaseHours * 3600L)
    var attempted, failed = 0
    val appendW, readW = Seq.newBuilder[Double]
    val opSpans = Seq.newBuilder[Span]
    var appended, matchedRows, listed, newChunks, newBytes = 0L
    var (chunks0, bytes0) = Workload.chunkStats(rootFile)
    // (step, covered, kind, partition, lo, hi, answer), checked after the loop
    val answers = Seq.newBuilder[(Int, Instant, String, String, Timestamp, Timestamp, Seq[String])]
    var step = 0
    while (step < steps) {
      step += 1
      val rng = new Random(ctx.seed * 1000003L + step)
      val newTo = covered.plusSeconds(3600)
      val kinds = rng.shuffle(Kinds)
      val part = Gen.EventTypes(rng.nextInt(3))
      val loS = From.getEpochSecond +
        (rng.nextDouble() * (newTo.getEpochSecond - From.getEpochSecond - 1800)).toLong
      val lo = new Timestamp(loS * 1000)
      val hi = new Timestamp((loS + 1800) * 1000)
      attempted += 1 + kinds.size
      try {
        val (_, append) = t.op(s"append hour $step") {
          t.call("operators.incremental")(
            Backup.incremental(spark, st.input, st.root, newTo))
          val (_, leaves) = t.call("source.layout")(BackupSource.layout(st.root))
          listed += leaves.map(_.files.size).sum
        }
        covered = newTo
        appendW += append.seconds
        opSpans += append
        kinds.foreach { k =>
          val (res, span) = t.op(s"read $k")(answer(k, read(ctx, st, k), part, lo, hi))
          readW += span.seconds
          opSpans += span
          answers += ((step, covered, k, part, lo, hi, res))
        }
        val (c, b) = Workload.chunkStats(rootFile)
        newChunks += c - chunks0; newBytes += b - bytes0
        chunks0 = c; bytes0 = b
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"hourly_ingest: step $step threw $e")
      }
    }
    // each read equals the same read on the generated rows
    answers.result().foreach { case (step, covered, k, part, lo, hi, res) =>
      val (want, n) = oracle(k, upTo(covered), part, lo, hi)
      matchedRows += n
      if (res != want) {
        failed += 1
        System.err.println(s"hourly_ingest: step $step $k returned " +
          s"${res.take(3)}, expected ${want.take(3)}")
      }
    }
    val coveredRows = upTo(covered)
    appended = coveredRows.count(_.ts.after(
      Timestamp.from(Start.plusSeconds(BaseHours * 3600L))))
    // after the last append: rows per (partition, day) equal the source's
    attempted += 1
    val dayFmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
      .withZone(java.time.ZoneOffset.UTC)
    val want = coveredRows.groupBy(r => s"${r.event_type}/${dayFmt.format(r.ts.toInstant)}")
      .map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted
    val got = t.untimed(spark.read.format("graftbackup").load(st.root)
      .groupBy(col("event_type"), col("date_dir")).count().collect())
      .map(r => s"${r.get(0)}/${r.get(1)}=${r.getLong(2)}").toSeq.sorted
    if (got != want) {
      failed += 1
      System.err.println("hourly_ingest: per-(partition, day) counts differ after the last append")
    }

    val ops = opSpans.result()
    val aw = appendW.result()
    val rw = readW.result()
    val (chunksEnd, bytesEnd) = Workload.chunkStats(rootFile)
    // write-side figures are per append, read-side figures per read
    val layers = if (!t.enabled) Map.empty[String, Double] else {
      val nA = math.max(1, aw.size).toDouble
      val nR = math.max(1, rw.size).toDouble
      def callS(name: String) =
        t.calls.filter(_.name == name).map(_.seconds).sum / nA
      val qes = ops.filter(_.name.startsWith("read")).flatMap(t.qesOf)
      val scans = qes.map(_.scans).sum
      val planned = qes.map(_.filesPlanned).sum
      val decoded = qes.map(_.rowsDecoded).sum
      val meanListed = listed / nA
      Map(
        "operators.incremental_s" -> callS("operators.incremental"),
        "source.layout_s" -> callS("source.layout"),
        "source.files_listed" -> meanListed,
        "source.files_planned" -> planned / nR,
        "source.prune_ratio" ->
          (if (scans == 0 || meanListed == 0) 0.0
          else 1 - planned / (scans * meanListed)),
        "source.rows_decoded" -> decoded / nR,
        "source.decode_ratio" ->
          (if (decoded == 0) 0.0 else matchedRows.toDouble / decoded),
        "sink.chunks" -> newChunks / nA,
        "sink.written_mib" -> newBytes / 1048576.0 / nA,
        "sink.chunk_fill" ->
          (if (newChunks == 0) 0.0 else appended.toDouble / newChunks / 1000.0),
        "sink.commit_s" -> t.sinkCommitSeconds(ops) / nA)
    }
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def tl(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.tail(xs).value
    Result(
      samples = ops.map(_.seconds),
      rowsPerS = if (aw.isEmpty) 0.0 else appended / aw.sum,
      attempted = attempted, failed = failed,
      named = Seq(
        ("append_p50_s", p50(aw), "s"),
        ("append_tail_s", tl(aw), "s"),
        ("read_p50_s", p50(rw), "s"),
        ("read_tail_s", tl(rw), "s"),
        ("stored_bytes_per_row", bytesEnd.toDouble / math.max(1, coveredRows.size), "B/row"),
        ("chunks_at_end", chunksEnd.toDouble, "count"),
        ("hours_appended", aw.size.toDouble, "count"),
        ("input_rows", src.size.toDouble, "rows"),
        ("input_mib", Workload.mib(new File(st.input)), "MiB")),
      layers = layers)
  }
}
