package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result line and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Benchmark entry point; `python3 perfbench/run.py` builds and launches
  * it. Arguments: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --fixture <dir> --traces <dir>`.
  *
  * Prints a human-readable report, then as its last line one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
  * metrics without tracing, the per-layer metrics with it. */
object Main {

  /** Per-layer metric names, in BENCHMARK.json order. */
  val layerNames: Seq[String] = Seq(
    "plan.analysis_s", "plan.optimize_s", "plan.physical_s",
    "codegen.compile_s", "codegen.classes",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_s",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_write_mib", "exec.shuffle_read_mib", "exec.spill_mib",
    "driver.self_s",
    "operators.backup_s", "operators.backup_jobs", "operators.fsck_s",
    "operators.restore_s", "operators.incremental_s",
    "sink.chunks", "sink.written_mib", "sink.chunk_fill", "sink.commit_s",
    "source.layout_s", "source.files_listed", "source.files_planned",
    "source.prune_ratio", "source.rows_decoded", "source.decode_ratio",
    "stream.batches", "stream.rows_per_batch", "stream.trigger_s",
    "stream.add_batch_s", "stream.latest_offset_s", "stream.wal_commit_s",
    "stream.backlog_files", "stream.generator_late_s") ++
    QuerySuite.objects.flatMap(o =>
      Seq("wall_s", "task_cpu_s", "plan_s", "stages").map(m => s"$o.$m")) ++
    Seq("trace.op_p50_s", "trace.spans")

  def layerUnit(name: String): String = name match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mib") => "MiB"
    case n if n.endsWith("_ratio") || n.endsWith("_fill") => "ratio"
    case n if n.endsWith("rows_decoded") || n.endsWith("rows_per_batch") => "rows"
    case _ => "count"
  }

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  /** The session every workload runs in. The IVF/PQ codebooks behind
    * the similarity queries train on the fixture's embeddings, so a run
    * reads nothing outside its checkout. */
  def session(work: File, fixture: File): SparkSession = {
    val cpus = 4
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftSparkExtensions())
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.shuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.similarity.Ivf.TrainDirKey, fixture.getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "checkpoints").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same as the engine's own bench: no .crc sidecars on local files
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    spark
  }

  /** Tracks the largest old-generation usage after a collection, from
    * the moment it is made: a listener on every collector reads the
    * old-generation pool's usage at the end of each collection. */
  final class OldGenPeak {
    private val peak = new AtomicLong(0L)
    private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .map(_.getName).filter(n => n.contains("Old Gen") || n.contains("Tenured"))
      .toSet
    require(oldPools.nonEmpty, "no old-generation memory pool")
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
            if (oldPools(pool)) peak.accumulateAndGet(u.getUsed, math.max(_, _))
          }
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    /** One more sample: a full collection, repeated after Spark's cleaner
      * releases what the first one freed, then a pause for the
      * notifications to arrive. */
    def collectNow(): Unit = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      Thread.sleep(200)
    }

    def mib: Double = peak.get / 1048576.0

    def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = new File(arg(args, "--work"))
    val fixture = new File(arg(args, "--fixture"))
    val traces = new File(arg(args, "--traces"))
    val wl = Workload.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))

    val heap = new OldGenPeak
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart() = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = session(work, fixture)
    spark.range(1000).selectExpr("sum(id)").collect(): Unit
    val sessionS = sinceStart()
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, seed, seconds, work, fixture)

    val s0 = System.nanoTime()
    val state = tracer.untimed(wl.stage(ctx))
    val stageS = (System.nanoTime() - s0) / 1e9
    val w0 = System.nanoTime()
    tracer.untimed(wl.warm(ctx, state))
    // every run's timed ops start from a collected heap
    heap.collectNow()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sinceStart()

    val cg0 = tracer.codegen()
    val r = wl.measure(ctx, state)
    val cg1 = tracer.codegen()
    heap.collectNow()
    heap.close()
    tracer.drain()

    val correct = r.failed == 0 && r.attempted > 0 && r.samples.nonEmpty
    val tail = if (r.samples.isEmpty) Stats.Tail(0, 0, 0, 0) else Stats.tail(r.samples)
    val p50 = if (r.samples.isEmpty) 0.0 else Stats.median(r.samples)

    println(s"workload $name seed $seed seconds $seconds trace ${if (trace) 1 else 0}")
    println(f"  session_s            $sessionS%.3f s (JVM start to first job)")
    println(f"  stage_s              $stageS%.3f s (input staging)")
    println(f"  warm_s               $warmS%.3f s (warm-up and a full collection)")
    println(f"  setup_s              $setupS%.3f s (JVM start to the first timed op)")
    println(f"  op samples           ${r.samples.size}%d, tail = ${tail.label}")
    println(s"  op walls             ${r.samples.map(x => f"$x%.3f").mkString(" ")} s")
    r.named.foreach { case (n, v, u) => println(f"  ${n}%-20s $v%.4f $u") }
    println(f"  fail_ratio           ${r.failed.toDouble / math.max(1, r.attempted)}%.4f ratio (${r.failed}/${r.attempted})")
    println(f"  peak_heap_mib        ${heap.mib}%.2f MiB (largest old generation after a collection)")
    println(s"  correct              $correct")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", p50, "s"),
        ("op_tail_s", tail.value, "s"),
        ("rows_per_s", r.rowsPerS, "rows/s"),
        ("peak_heap_mib", heap.mib, "MiB"))
      else {
        val ops = tracer.ops.toSeq
        val generic = Layers.generic(tracer, ops, cg1._1 - cg0._1,
          cg1._2 - cg0._2)
        val spanFile = new File(traces, s"$name-seed$seed.jsonl")
        val nSpans = tracer.write(spanFile)
        val all = generic ++ r.layers ++ Map(
          "trace.op_p50_s" -> p50, "trace.spans" -> nSpans.toDouble)
        println(s"  spans                $nSpans written to $spanFile")
        Layers.printAccounting(tracer, ops)
        println("  per-layer metrics (per timed op unless noted):")
        layerNames.map { n =>
          val v = all.getOrElse(n, 0.0)
          println(f"    $n%-28s $v%.6f ${layerUnit(n)}")
          (n, v, layerUnit(n))
        }
      }
    tracer.close()
    spark.stop()

    val m = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1, r.attempted)}, """ +
      s""""failed": ${r.failed}, "metrics": {$m}}""")
  }
}

/** Per-layer metrics every workload shares, from the tracer's spans. */
object Layers {
  def generic(t: Tracer, ops: Seq[Span], codegenS: Double,
              codegenClasses: Long): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val qes = ops.flatMap(t.qesOf)
    val jobs = ops.flatMap(t.jobsOf)
    val stages = t.stagesOf(jobs)
    Map(
      "plan.analysis_s" -> qes.map(_.analysis).sum / 1e9 / n,
      "plan.optimize_s" -> qes.map(_.optimize).sum / 1e9 / n,
      "plan.physical_s" -> qes.map(_.physical).sum / 1e9 / n,
      "codegen.compile_s" -> codegenS / n,
      "codegen.classes" -> codegenClasses / n,
      "sched.jobs" -> jobs.size / n,
      "sched.stages" -> stages.size / n,
      "sched.tasks" -> stages.map(_.tasks).sum / n,
      "sched.delay_s" -> stages.map(_.delayMs).sum / 1e3 / n,
      "exec.task_run_s" -> stages.map(_.runMs).sum / 1e3 / n,
      "exec.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_s" -> stages.map(_.gcMs).sum / 1e3 / n,
      "exec.shuffle_write_mib" -> stages.map(_.shuffleWrite).sum / 1048576.0 / n,
      "exec.shuffle_read_mib" -> stages.map(_.shuffleRead).sum / 1048576.0 / n,
      "exec.spill_mib" -> stages.map(_.spill).sum / 1048576.0 / n,
      "driver.self_s" -> ops.map(t.selfNs).sum / 1e9 / n)
  }

  /** Prints, summed over the timed ops, op wall = self + children. */
  def printAccounting(t: Tracer, ops: Seq[Span]): Unit = {
    val wall = ops.map(o => o.end - o.start).sum / 1e9
    val self = ops.map(t.selfNs).sum / 1e9
    println(f"  op accounting        wall $wall%.3f s = self $self%.3f s + " +
      f"job-union ${wall - self}%.3f s over ${ops.size} ops")
  }
}
