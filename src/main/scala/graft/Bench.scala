package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints the lines of [[stdoutLines]], the last of which is ONE JSON
  * line {"metric":"total",...} for the driver.
  *
  * A short untimed warm-up runs first: on a fresh JVM the first query
  * pays ~20-30s of classloading + Janino/JIT compilation that has
  * nothing to do with plan quality; warming the common codepaths
  * (parquet scan, hash agg, window, shuffle) makes the timed numbers
  * reflect the engine, not the JVM cold start.
  */
object Bench {
  // Locale.ROOT: the f-interpolator honours the default locale, and a
  // comma-decimal locale would emit invalid JSON
  private[graft] def f3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** One timed query. A failed query carries its elapsed time NEGATED,
    * so a regression can't hide inside a normal-looking total. */
  private[graft] final case class Timed(key: String, sec: Double, ok: Boolean)

  /** The FINAL stdout line — the driver's parse contract. The driver
    * stores only the tail of stdout (2000 bytes observed in r03/r04);
    * this line is value-only and ~200 bytes, so it can never be clipped
    * regardless of how many queries the suite grows to. The per-query
    * map goes on its OWN earlier line — never here. BenchSpec pins both
    * the size bound and the absence of a "queries" key.
    *
    * `rowsOnly`: queries with NO oracle entry (rows_only_by_design) —
    * derived, so the label can never drift from the contract; bounded,
    * since the inexpressible set (file-CRC — DuckDB has no crc32) is a
    * handful of names, never the suite. `initialPartitions`/`inputMib`:
    * the derived AQE pre-coalesce width and the input size it was
    * derived from, so a mis-sized run is readable off the artifact.
    * `nQueries`/sec_per_query: the per-query cost budget — suite growth
    * moves the total, cost per query is the regression class the total
    * hides. */
  private[graft] def finalLine(
      total: Double, totalOk: Double, nFailed: Int, sfDir: String,
      rowsOnly: Seq[String] = Nil, initialPartitions: Int = -1,
      inputMib: Long = -1L, nQueries: Int = 0): String = {
    // sfDir is operator-controlled, but this is the one line that must
    // ALWAYS parse
    val sf = jsonEscape(sfDir)
    val ro = rowsOnly.map(n => "\"" + jsonEscape(n) + "\"")
      .mkString("[", ",", "]")
    // through f3, NOT the f-interpolator (see f3)
    val perQ = f3(if (nQueries > 0) total / nQueries else 0.0)
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","total_ok":${f3(totalOk)},"n_failed":$nFailed,"rows_only_by_design":$ro,"initial_partitions":$initialPartitions,"input_mib":$inputMib,"n_queries":$nQueries,"sec_per_query":$perQ,"sf":"$sf"}"""
  }

  /** One compact per-query stdout line, printed for EVERY query between
    * the queries-map line and the final total line. The driver keeps
    * only a ~2.7 KB stdout tail, and the single queries-map line had
    * grown to ~7.5 KB at 228 queries — it arrived clipped mid-key and
    * parsed as NOTHING. Small self-contained lines degrade gracefully
    * instead: the tail always ends with the LAST ~55-60 complete lines,
    * each of which parses on its own. Failed queries carry their
    * negated wall here exactly as in the map, so the two renderings can
    * never disagree. */
  private[graft] def perQueryLine(key: String, sec: Double): String =
    s"""{"q":"${jsonEscape(key)}","sec":${f3(sec)}}"""

  /** Escapes the two characters that can break a JSON string. */
  private def jsonEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Bench's whole stdout, in order: the queries-map line (file-based
    * consumers of the whole artifact read it), one [[perQueryLine]] per
    * query, and the [[finalLine]], which must stay LAST. `total` sums
    * the absolute time spent; total_ok sums succeeded queries only, so
    * totals stay comparable across runs whose failure sets differ. */
  private[graft] def stdoutLines(results: Seq[Timed], sfDir: String,
                                 rowsOnly: Seq[String],
                                 initialPartitions: Int,
                                 inputMib: Long): Seq[String] = {
    val qs = results.map(r => "\"" + r.key + "\":" + f3(r.sec))
      .mkString("{", ",", "}")
    val total = results.map(r => math.abs(r.sec)).sum
    val totalOk = results.filter(_.ok).map(_.sec).sum
    (s"""{"metric":"queries","queries":$qs,"sf":"$sfDir"}""" +:
      results.map(r => perQueryLine(r.key, r.sec))) :+
      finalLine(total, totalOk, results.count(!_.ok), sfDir, rowsOnly,
        initialPartitions, inputMib, results.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val session = DriverSession.build(sfDir)
    val spark = session.spark

    // Per-query task-metric totals (executor run/cpu/gc): separates
    // "the plan does too much work" from "the host ran the same work
    // slowly" — r02's driver bench was 16× the local wall clock for
    // identical plans, which only these numbers can disambiguate.
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong(0)
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    val taskGcMs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            taskRunMs.addAndGet(m.executorRunTime): Unit
            taskCpuNs.addAndGet(m.executorCpuTime): Unit
            taskGcMs.addAndGet(m.jvmGCTime): Unit
          }
        }
      })

    // warm-up (untimed): exercise scan/agg/join/window/json codepaths.
    // Each step is guarded INDEPENDENTLY and logs what it skipped: one
    // failing step must not silently cancel the others — a swallowed
    // failure here reappears as a mystery-slow timed query (the r9
    // 14.4 s regression class) with zero diagnostic signal.
    def warm(label: String)(body: => Unit): Unit =
      try body catch {
        case t: Throwable =>
          System.err.println(s"BENCH WARMUP-SKIP $label: ${t.getMessage}")
      }
    locally {
      import org.apache.spark.sql.functions._
      val e = Tables.events(spark, sfDir).limit(2000)
      warm("agg")(e.groupBy(col("event_type")).count().count(): Unit)
      warm("json")(e.select(get_json_object(col("props"), "$.k")).count(): Unit)
      warm("window") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
        e.withColumn("rn", row_number().over(w)).count(): Unit
      }
      warm("join")(Tables.lineitem(spark, sfDir).limit(2000)
        .join(Tables.orders(spark, sfDir).limit(2000),
          col("l_orderkey") === col("o_orderkey"))
        .count(): Unit)
      // dedup + ANN kernel paths: their first execution pays Janino
      // compilation of the kernel-bearing stages (~5s measured); warm
      // them on a small slice so the timed runs measure the plans
      val docs = Tables.documents(spark, sfDir).limit(200)
      warm("ngram")(graft.dedup.Dedup
        .ngramJaccardPairs(docs, maxDf = 10, threshold = 0.5).count(): Unit)
      // wide mode compiles its own kernel-bearing stages (hash120 +
      // pair-merge): x28's first run paid ~4.5s of Janino without this
      warm("ngram-wide")(graft.dedup.Dedup
        .ngramJaccardPairs(docs, maxDf = 10, threshold = 0.5, wideHash = true)
        .count(): Unit)
      warm("lsh")(graft.dedup.Dedup.lshCandidatePairs(docs).count(): Unit)
      warm("simhash")(graft.dedup.Dedup.simhashPairs(docs, maxHamming = 3)
        .count(): Unit)
      val emb = Tables.embeddings(spark, sfDir).limit(200)
      warm("ann-sig")(graft.similarity.Ann.withSignature(emb).count(): Unit)
      warm("ivf")(graft.similarity.Ivf.cellStats(emb).count(): Unit)
      // Backup sink + read-back path: first-touch classloading of the
      // Hadoop output committer, gzip codec, schema-directed JSON read
      // and FS open/CRC/rename costs ~17 s (measured: r9 first run
      // 19.4 s vs 2.7 s repeats; r04 driver showed 14.4 s vs the 2.7 s
      // steady state — the write-only warm-up missed finalizeChunkNames'
      // read+rename classloading). Run the WHOLE Backup.run surface on a
      // 2-row table so the timed r9 measures the plan, not the JVM.
      warm("backup") {
        val warmDir = s"${System.getProperty("java.io.tmpdir")}/graft_warm_backup"
        e.limit(2).write.mode("overwrite").parquet(s"$warmDir/in.parquet")
        graft.operators.Backup.run(spark, graft.config.BackupConfig(
          inputPath = s"$warmDir/in.parquet", outputPath = s"$warmDir/out",
          timeColumn = "ts", partitionColumn = "event_type",
          from = java.time.Instant.parse("2000-01-01T00:00:00Z"),
          to = java.time.Instant.parse("2100-01-01T00:00:00Z"))): Unit
      }
      // ImageIO/AWT and javax.sound first-touch (~5s each of codec
      // classloading) belongs to the JVM, not x15/x31's plans (same
      // JVM in local mode)
      warm("imageio")(graft.multimodal.Multimodal.decodeImages(Iterator(
        graft.multimodal.Multimodal.MediaRecord(0L,
          graft.multimodal.Multimodal.syntheticPng(0L), "image/png", 0, 0)))
        .next(): Unit)
      warm("audio")(graft.multimodal.Multimodal.decodeAudio(Iterator(
        graft.multimodal.Multimodal.MediaRecord(0L,
          graft.multimodal.Multimodal.syntheticWav(0L), "audio/wav", 0, 0)))
        .next(): Unit)
      warm("cache-clear")(spark.catalog.clearCache())
    }

    // Optional filter for local iteration: SPARK_GRAFT_ONLY=regex
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // ONE defs snapshot for the whole run: the run functions timed below
    // and the rows_only_by_design derivation in the final line must come
    // from the same evaluation (separate SparkEntry.queries / .oracleSql
    // calls could disagree across an x37 train transition)
    val defsSnap = SparkEntry.defs
    val selected = defsSnap.map { case (k, d) => k -> d.fn }.toSeq
      .sortBy(_._1)
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }

    def measure(key: String,
                fn: (SparkSession, String) => DataFrame): Timed = {
      val (r0, c0, g0) = (taskRunMs.get, taskCpuNs.get, taskGcMs.get)
      // Label the query's jobs: UI/eventlog attribution for per-stage
      // analysis (tools/analyze_eventlog.py). Thread-local, cleared
      // after the action.
      spark.sparkContext.setJobDescription(key)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
      catch { case t: Throwable =>
        System.err.println(s"BENCH FAIL $key: ${t.getMessage}"); false }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // listener delivery is async; the tail of a query's metrics can
      // attribute to the next query — fine for the profile's purpose.
      // Printed AS IT COMPLETES: a run killed mid-suite still shows how
      // far it got and where the time went.
      System.err.println(
        s"BENCHQ $key ok=$ok wall=${f3(sec)} " +
          s"run_s=${f3((taskRunMs.get - r0) / 1e3)} " +
          s"cpu_s=${f3((taskCpuNs.get - c0) / 1e9)} " +
          s"gc_s=${f3((taskGcMs.get - g0) / 1e3)}")
      DriverSession.resetQueryState(spark)
      Timed(key, if (ok) sec else -sec, ok)
    }

    val results = selected.map { case (key, fn) => measure(key, fn) }
    val rowsOnly = defsSnap.collect { case (k, d) if d.oracle.isEmpty => k }
      .toSeq.sorted
    stdoutLines(results, sfDir, rowsOnly, session.initialPartitions,
      session.inputMib).foreach(println)
    spark.stop()
  }
}
