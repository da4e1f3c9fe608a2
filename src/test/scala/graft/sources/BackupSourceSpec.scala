package graft.sources

import graft.SparkTestBase
import graft.config.BackupConfig
import org.apache.spark.sql.functions._

/** The graftbackup DataSource V2 connector: layout round-trip, schema
  * inference, planning-time partition pruning, and column pruning into
  * the JSON decoder. */
class BackupSourceSpec extends SparkTestBase {

  private lazy val outDir: String = {
    val out = java.nio.file.Files
      .createTempDirectory("graft_backup_src").toString
    val cfg = BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = out,
      timeColumn = "ts", partitionColumn = "event_type",
      from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
      to = java.time.Instant.parse("2024-01-25T00:00:00Z"))
    graft.operators.Backup.run(spark, cfg)
    out
  }

  test("short name resolves via DataSourceRegister and round-trips the rows") {
    val viaConnector = spark.read.format("graftbackup").load(outDir)
    val viaJson = spark.read.schema("event_id STRING").json(outDir)
    assert(viaConnector.count() == viaJson.count())
    // partition columns surface with directory values
    val types = viaConnector.select("event_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(types == Set("click", "view", "purchase", "signup", "error"))
  }

  test("schema inference: typed data fields + string partition columns") {
    val sch = spark.read.format("graftbackup").load(outDir).schema
    val byName = sch.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("event_id") == org.apache.spark.sql.types.LongType)
    assert(byName("user_id") == org.apache.spark.sql.types.LongType)
    assert(byName("value") == org.apache.spark.sql.types.DoubleType)
    assert(byName("event_type") == org.apache.spark.sql.types.StringType)
    assert(byName("date_dir") == org.apache.spark.sql.types.StringType)
    // ts is the backup's formatted string, not a timestamp
    assert(byName("ts") == org.apache.spark.sql.types.StringType)
  }

  test("partition-equality filter prunes planned files to one directory") {
    val df = spark.read.format("graftbackup").load(outDir)
      .filter(col("event_type") === "click")
      .select(col("date_dir"))
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[BackupScan]
    }
    assert(scans.size == 1, "expected the graftbackup scan in the plan")
    val planned = scans.head.planInputPartitions()
      .map(_.asInstanceOf[BackupFilePartition])
    assert(planned.nonEmpty)
    assert(planned.forall(_.partValues("event_type") == "click"),
      "non-matching partitions must not be planned")
    val all = new BackupScan(outDir,
      scans.head.readSchema(), Seq("event_type", "date_dir"), Array.empty,
      None, Array.empty, None)
      .planInputPartitions()
    assert(planned.length < all.length,
      "pruned plan must cover fewer files than the full listing")
    // and the filter is reported as pushed
    assert(scans.head.description().contains("event_type"))
  }

  test("multi-column layout: an inner-level equality filter prunes the " +
    "subtree under every outer value (round-8 mandate #6)") {
    val srcOut = java.nio.file.Files
      .createTempDirectory("graft_backup_mc_src").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft_backup_mc").toString
    graft.Tables.events(spark, sf0001)
      .withColumn("uid_bucket", pmod(col("user_id"), lit(4)).cast("string"))
      .write.mode("overwrite").parquet(srcOut)
    val cfg = BackupConfig(
      inputPath = srcOut, outputPath = out,
      timeColumn = "ts", partitionColumn = "event_type",
      partitionColumns = Seq("event_type", "uid_bucket"),
      from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
      to = java.time.Instant.parse("2024-01-25T00:00:00Z"))
    val res = graft.operators.Backup.run(spark, cfg)
    // the layout nests both levels (outermost first) + date_dir
    assert(res.chunks.nonEmpty)
    assert(res.chunks.forall(c =>
      c.path.contains("event_type=") && c.path.contains("/uid_bucket=")))
    assert(res.rowsPerPartition.keys.forall(_.contains("/")),
      "multi-column counts key by joined values")
    // inner-level-only filter: every event_type listed, only its
    // uid_bucket=2 subtree planned
    val df = spark.read.format("graftbackup").load(out)
      .filter(col("uid_bucket") === "2").select(col("date_dir"))
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[BackupScan]
    }
    assert(scans.size == 1)
    val planned = scans.head.planInputPartitions()
      .map(_.asInstanceOf[BackupFilePartition])
    assert(planned.nonEmpty)
    assert(planned.forall(_.partValues("uid_bucket") == "2"))
    assert(planned.map(_.partValues("event_type")).distinct.length == 5,
      "all outer values must still be covered")
    // and the rows are exact vs the source
    val got = spark.read.format("graftbackup").load(out)
      .filter(col("uid_bucket") === "2").count()
    val want = graft.Tables.events(spark, sf0001)
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-01-25 00:00:00").cast("timestamp") &&
        col("event_type").isNotNull && pmod(col("user_id"), lit(4)) === 2)
      .count()
    assert(got == want && got > 0)
  }

  test("V2 Predicate pushdown: equality/IN absorb, a function predicate " +
    "comes back as residual instead of being dropped (mandate #7)") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    def colRef(n: String) = Expressions.column(n)
    def strLit(s: String) = Expressions.literal(s)
    val sb = new BackupScanBuilder(outDir,
      spark.read.format("graftbackup").load(outDir).schema,
      Seq("event_type", "date_dir"))
    val eq = new Predicate("=",
      Array(colRef("event_type"), strLit("click")))
    val in = new Predicate("IN",
      Array(colRef("date_dir"), strLit("20240105"), strLit("20240106")))
    // a predicate shape the chunk layout cannot evaluate exactly
    val startsWith = new Predicate("STARTS_WITH",
      Array(colRef("event_type"), strLit("cl")))
    val residual = sb.pushPredicates(Array(eq, in, startsWith))
    assert(residual.toSeq == Seq(startsWith),
      "absorbable predicates must be consumed; the function predicate " +
        "must come back for post-scan evaluation")
    assert(sb.pushedPredicates().toSeq == Seq(eq, in))
    val planned = sb.build().toBatch.planInputPartitions()
      .map(_.asInstanceOf[BackupFilePartition])
    assert(planned.nonEmpty)
    assert(planned.forall(p => p.partValues("event_type") == "click" &&
      Set("20240105", "20240106")(p.partValues("date_dir"))))
    // end-to-end through the SQL path: absorbed + exact
    val got = spark.read.format("graftbackup").load(outDir)
      .filter(col("event_type").isin("click", "view") &&
        col("event_type").startsWith("cl"))
      .count()
    val want = spark.read.format("graftbackup").load(outDir)
      .collect().count(_.getAs[String]("event_type") == "click")
    assert(got == want && got > 0)
  }

  test("column pruning reaches the decoder on projection queries") {
    val df = spark.read.format("graftbackup").load(outDir)
      .select(col("event_type"), col("user_id"))
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[BackupScan]
    }
    val names = scans.head.readSchema().fieldNames.toSet
    assert(names == Set("event_type", "user_id"),
      s"projection must prune the read schema to its columns: $names")
  }

  test("partition-count query pushes the aggregate: one partial row per " +
    "chunk, no JSON parse, counts still exact") {
    val df = spark.read.format("graftbackup").load(outDir)
      .groupBy(col("event_type")).count()
    val aggScans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.collect { case s: BackupAggScan => s }
    assert(aggScans.size == 1,
      "groupBy(partitionCol).count() must plan the pushed-aggregate scan")
    // one partial row per chunk file, not per data row
    val partials = aggScans.head.planInputPartitions().length
    val rows = spark.read.format("graftbackup").load(outDir).count()
    assert(partials < rows, s"agg scan emits $partials partials for $rows rows")
    // correctness: counts match the source table
    val counts = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val src = graft.Tables.events(spark, sf0001)
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-01-25 00:00:00").cast("timestamp") &&
        col("event_type").isNotNull)
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == src)
  }

  test("global count(*) over an empty/fully-pruned backup is 0, not null") {
    val n = spark.read.format("graftbackup").load(outDir)
      .filter(col("event_type") === "does_not_exist").count()
    assert(n == 0L)
  }

  test("min/max of a partition column answer from directory values") {
    val row = spark.read.format("graftbackup").load(outDir)
      .agg(min(col("date_dir")).as("lo"), max(col("date_dir")).as("hi"))
      .collect().head
    val want = graft.Tables.events(spark, sf0001)
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-01-25 00:00:00").cast("timestamp") &&
        col("event_type").isNotNull)
      .agg(min(date_format(col("ts"), "yyyyMMdd")),
        max(date_format(col("ts"), "yyyyMMdd")))
      .collect().head
    assert(row == want)
  }

  test("time-range residuals skip chunk files by name, losslessly") {
    val df = spark.read.format("graftbackup").load(outDir)
    val lo = "2024-01-10 00:00:00"
    val hi = "2024-01-12 00:00:00"
    val filtered = df.filter(col("ts") >= lo && col("ts") < hi)
      .select(col("event_id"), col("ts"))
    val scans = filtered.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[BackupScan]
    }
    val planned = scans.head.planInputPartitions().length
    val all = new BackupScan(outDir, scans.head.readSchema(),
      Seq("event_type", "date_dir"), Array.empty, None, Array.empty, None)
      .planInputPartitions().length
    assert(planned < all,
      s"narrow time window must skip chunk files ($planned of $all planned)")
    // losslessness: same rows as a full scan + exact filter
    val viaPrune = filtered.collect().map(_.toSeq).toSet
    val viaFull = spark.read.schema("event_id LONG, ts STRING").json(outDir)
      .filter(col("ts") >= lo && col("ts") < hi)
      .select(col("event_id"), col("ts")).collect().map(_.toSeq).toSet
    assert(viaPrune == viaFull)
  }

  test("zone-map boundary: sub-second bound at a chunk's floored edge " +
    "cannot skip that chunk") {
    // A bound INSIDE the first second of some chunk: the name floors to
    // seconds, so the chunk must survive and Spark's residual filter
    // must trim the rows exactly.
    import BackupSource._
    val r = ChunkName.parse("20240110T050607Z_20240110T070000Z_deadbeef.log.gz")
      .map(_.rangeMicros)
    assert(r.isDefined)
    val (loM, hiM) = r.get
    // bound just above the floored start: rows in [start, bound) would
    // be wrongly dropped by a non-conservative skip
    assert(chunkMayMatch((loM, hiM), "ts",
      Seq(org.apache.spark.sql.sources.LessThan("ts", "2024-01-10 05:06:07.5"))))
    assert(chunkMayMatch((loM, hiM), "ts",
      Seq(org.apache.spark.sql.sources.GreaterThan("ts", "2024-01-10 06:59:59.9"))))
    // and a disjoint window does skip
    assert(!chunkMayMatch((loM, hiM), "ts",
      Seq(org.apache.spark.sql.sources.LessThan("ts", "2024-01-10 05:06:07"))))
    assert(!chunkMayMatch((loM, hiM), "ts",
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("ts", "2024-01-10 07:00:01"))))
  }

  test("chunk names: format and parse round-trip, in the writer's zone") {
    def micros(s: String) = {
      val t = java.time.Instant.parse(s)
      t.getEpochSecond * 1000000L + t.getNano / 1000L
    }
    val (lo, hi) = (micros("2024-01-10T05:06:07.654321Z"),
      micros("2024-01-10T07:00:00.999999Z"))
    val utc = ChunkName.format(lo, hi, 0xdeadbeefL, java.time.ZoneOffset.UTC)
    assert(utc == "20240110T050607Z_20240110T070000Z_deadbeef")
    // the stamps are naive local time in the writing session's zone
    assert(ChunkName.format(lo, hi, 0xbeefL, java.time.ZoneId.of("Asia/Tokyo"))
      == "20240110T140607Z_20240110T160000Z_0000beef")
    val want = ChunkName("20240110T050607Z", "20240110T070000Z", "deadbeef",
      micros("2024-01-10T05:06:07Z"), micros("2024-01-10T07:00:00Z"))
    for (seq <- Seq(0, 1, 12); gzip <- Seq(true, false)) {
      val name = ChunkName.fileName(utc, seq, gzip)
      assert(ChunkName.parse(name).contains(want), name)
    }
    assert(ChunkName.fileName(utc, 1, gzip = true) ==
      "20240110T050607Z_20240110T070000Z_deadbeef-1.log.gz")
    assert(want.rangeMicros == ((want.fromMicros, want.toMicros + 1000000L)))
    // read-side tolerances: a legacy `_n` suffix, upper-case hex
    assert(ChunkName.parse(utc.toUpperCase + "_3.log").map(_.crc32)
      .contains("DEADBEEF"))
    // off the grammar or impossible: never trusted by name
    Seq("20240110T050607Z_20240110T070000Z_deadbee.log.gz",
      "20240110T050607Z_20240110T070000Z_deadbeef.json",
      "20241310T050607Z_20241310T070000Z_deadbeef.log.gz",
      "part-00000.log.gz").foreach(n => assert(ChunkName.parse(n).isEmpty, n))
  }

  test("runtime (DPP-style) In filter prunes directories after planning") {
    val df = spark.read.format("graftbackup").load(outDir)
      .select(col("event_type"), col("date_dir"))
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[BackupScan]
    }
    val scan = scans.head
    val before = scan.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("event_type", Array("click"))))
    val after = scan.planInputPartitions()
    assert(after.length < before)
    assert(after.map(_.asInstanceOf[BackupFilePartition])
      .forall(_.partValues("event_type") == "click"))
  }

  test("statistics report post-pruning on-disk bytes") {
    val all = new BackupScan(outDir, new org.apache.spark.sql.types.StructType(),
      Seq("event_type", "date_dir"), Array.empty, None, Array.empty, None)
    val pruned = new BackupScan(outDir, new org.apache.spark.sql.types.StructType(),
      Seq("event_type", "date_dir"),
      Array(org.apache.spark.sql.sources.EqualTo("event_type", "click")),
      None, Array.empty, None)
    val a = all.estimateStatistics().sizeInBytes()
    val p = pruned.estimateStatistics().sizeInBytes()
    assert(a.isPresent && p.isPresent)
    assert(p.getAsLong > 0 && p.getAsLong < a.getAsLong)
  }

  test("limit pushdown caps per-reader lines and stays exact") {
    val df = spark.read.format("graftbackup").load(outDir)
      .select(col("event_id")).limit(7)
    assert(df.count() == 7)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[BackupScan]
    }
    assert(scans.head.description().contains("limit=7"))
  }

  test("topN pushdown: desc order with tiebreaker, exact against a " +
    "full in-memory sort") {
    val df = spark.read.format("graftbackup").load(outDir)
      .select(col("event_id"), col("ts"))
      .orderBy(col("ts").desc, col("event_id").desc).limit(10)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[BackupScan]
    }
    assert(scans.head.description().contains("topN=[ts DESC"),
      s"TopN must reach the scan: ${scans.head.description()}")
    val got = df.collect().map(r => (r.getLong(0), r.getString(1)))
    val want = spark.read.format("graftbackup").load(outDir)
      .select(col("event_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy { case (id, ts) => (ts, id) }.reverse.take(10)
    assert(got.toSeq == want.toSeq)
  }

  test("topN pushdown: asc with NULLS FIRST on a nullable decoded field") {
    val df = spark.read.format("graftbackup").load(outDir)
      .select(col("event_id"), col("user_id"))
      .orderBy(col("user_id").asc_nulls_first, col("event_id").asc).limit(8)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[BackupScan]
    }
    assert(scans.head.description()
      .contains("topN=[user_id ASC NULLS FIRST"))
    val got = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val want = spark.read.format("graftbackup").load(outDir)
      .select(col("event_id"), col("user_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy { case (id, uid) => (uid.isDefined, uid.getOrElse(0L), id) }
      .take(8)
    assert(got.toSeq == want.toSeq)
  }

  test("topN refused above the per-reader memory cap") {
    val df = spark.read.format("graftbackup").load(outDir)
      .select(col("event_id"))
      .orderBy(col("event_id")).limit(BackupSource.TopNMaxLimit + 1)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[BackupScan]
    }
    assert(!scans.head.description().contains("topN="),
      "a limit past TopNMaxLimit must not push: Spark's sort is the " +
        "better plan there")
  }

  test("corrupt chunk (truncated gzip) fails the read loudly — never " +
    "silently empty") {
    // copy the staged backup, truncate one chunk mid-stream
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    val src = new java.io.File(outDir)
    def copyTree(f: java.io.File, to: java.io.File): Unit = {
      if (f.isDirectory) {
        to.mkdirs()
        f.listFiles().foreach(c => copyTree(c, new java.io.File(to, c.getName)))
      } else java.nio.file.Files.copy(f.toPath, to.toPath): Unit
    }
    copyTree(src, new java.io.File(dir))
    val victim = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.isDirectory)
      .flatMap(_.listFiles()).find(_.getName.endsWith(".log.gz")).get
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    java.nio.file.Files.write(victim.toPath,
      java.util.Arrays.copyOf(bytes, math.max(20, bytes.length / 2)))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graftbackup").load(dir)
        .agg(count(col("event_id"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("complete-manifest batch planning: recorded sizes are exact, " +
    "planning consults no listing, walk equivalence holds") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_batch").toString
    graft.operators.Backup.run(spark, BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = dir,
      timeColumn = "ts", partitionColumn = "event_type",
      from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
      to = java.time.Instant.parse("2024-01-25T00:00:00Z")))
    // fresh-root commit stamped completeness
    assert(BackupSink.hasCompleteStamp(
      new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(dir)))
    val (partCols, leaves, sizes) = BackupSource.manifestView(dir).get
    assert(partCols == Seq("event_type", "date_dir"))
    // every chunk on disk has a record with its EXACT on-disk size
    // (counted by the task writer — statistics never stat a file)
    val onDisk = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
      .flatMap(_.listFiles()).filter(_.isDirectory).flatMap(_.listFiles())
      .filter(f => f.isFile && !f.getName.startsWith("."))
    assert(onDisk.nonEmpty &&
      onDisk.length == leaves.map(_.files.size).sum)
    onDisk.foreach { f =>
      val rel = f.getPath.stripPrefix(dir).stripPrefix("/")
      assert(sizes.get(rel).contains(f.length()),
        s"recorded size diverges for $rel: ${sizes.get(rel)} vs ${f.length()}")
    }
    // the scan's size estimate = the true byte sum, from records alone
    val df = spark.read.format("graftbackup").load(dir)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est == BigInt(onDisk.map(_.length()).sum),
      s"stats $est != on-disk ${onDisk.map(_.length()).sum}")
    val viaManifest = df.count()
    // a chunk COPIED in out-of-band (no record) is invisible — batch
    // planning reads the log, never a directory
    val src = onDisk.head
    val planted = new java.io.File(src.getParentFile,
      "99999999999999_99999999999999_deadbeef.log.gz")
    java.nio.file.Files.copy(src.toPath, planted.toPath)
    assert(spark.read.format("graftbackup").load(dir).count() == viaManifest,
      "batch planning listed a directory in manifest mode")
    // the walk is directory truth: with the log aside, the duplicate
    // chunk's rows appear — and the two discoveries agree otherwise
    val manifestDir = java.nio.file.Paths.get(dir, "_manifest")
    val aside = java.nio.file.Paths.get(dir, "_manifest_aside")
    java.nio.file.Files.move(manifestDir, aside)
    val viaWalk = spark.read.format("graftbackup").load(dir).count()
    java.nio.file.Files.move(aside, manifestDir)
    val dupRows = spark.read.schema("event_id STRING")
      .json(planted.getPath).count()
    assert(viaWalk == viaManifest + dupRows,
      s"walk $viaWalk != manifest $viaManifest + planted $dupRows")
    assert(planted.delete())
  }

  test("malformed chunk name: zone maps keep the file (conservative), " +
    "rows still read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_badname").toString
    val cfg = BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = dir,
      timeColumn = "ts", partitionColumn = "event_type",
      from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
      to = java.time.Instant.parse("2024-01-25T00:00:00Z"))
    graft.operators.Backup.run(spark, cfg)
    // strip the time envelope from one chunk's name — an OUT-OF-BAND
    // mutation, which invalidates the sink's manifest log by contract
    // (single appender); a damaged/legacy root reads via the walk, so
    // drop the log like any mutating maintenance would
    val victim = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.isDirectory)
      .flatMap(_.listFiles()).find(_.getName.endsWith(".log.gz")).get
    val renamed = new java.io.File(victim.getParentFile, "oddly_named.log.gz")
    assert(victim.renameTo(renamed))
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir, "_manifest"))
    val all = spark.read.format("graftbackup").load(dir).count()
    // a time filter cannot zone-map-skip the unparseable name: its rows
    // must still be evaluated (and survive the residual filter exactly)
    val filtered = spark.read.format("graftbackup").load(dir)
      .filter(col("ts") >= "2024-01-05 00:00:00" &&
        col("ts") <= "2024-01-25 00:00:00")
      .count()
    assert(all == filtered && all > 0,
      "rows behind a malformed chunk name must not be silently skipped")
  }

  test("schema evolution: a column added by a later append window is " +
    "inferred (first+last chunk sampling) and reads null for old rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, ts("2024-01-05 00:00:00"), "click"),
        (2L, ts("2024-01-05 01:00:00"), "click"))
      .toDF("event_id", "ts", "event_type")
      .write.format("graftbackup").mode("overwrite")
      .option("partitionColumns", "event_type")
      .option("timeColumn", "ts").save(dir)
    // later window appends with an EXTRA column (omit-null encoding:
    // the new field exists only in the later-sorting chunks)
    Seq((3L, ts("2024-02-01 00:00:00"), "click", "eu-west"),
        (4L, ts("2024-02-01 01:00:00"), "click", "us-east"))
      .toDF("event_id", "ts", "event_type", "region")
      .write.format("graftbackup").mode("append")
      .option("partitionColumns", "event_type")
      .option("timeColumn", "ts").save(dir)
    val back = spark.read.format("graftbackup").load(dir)
    assert(back.schema.fieldNames.contains("region"),
      s"evolved column missing from ${back.schema.fieldNames.mkString(",")}")
    val rows = back.select($"event_id", $"region").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows == Map(1L -> None, 2L -> None,
      3L -> Some("eu-west"), 4L -> Some("us-east")))
  }

  test("metadata columns: hidden from SELECT *, resolve to the chunk " +
    "path and its name envelope when asked") {
    val df = spark.read.format("graftbackup").load(outDir)
    assert(!df.columns.contains("_chunk_file"),
      "metadata columns must stay hidden from the default projection")
    val rows = df.select(col("_chunk_file"), col("_chunk_from"),
      col("_chunk_to"), col("event_id")).collect()
    assert(rows.nonEmpty)
    val nameRe = raw"(\d{8}T\d{6}Z)_(\d{8}T\d{6}Z)_[0-9a-f]{8}.*".r
    rows.foreach { r =>
      val file = r.getString(0)
      assert(file != null && new java.io.File(
        file.stripPrefix("file:")).getName.endsWith(".log.gz"))
      new java.io.File(file.stripPrefix("file:")).getName match {
        case nameRe(from, to) =>
          assert(r.getString(1) == from && r.getString(2) == to,
            s"envelope mismatch for $file")
        case other => fail(s"unexpected chunk name $other")
      }
      assert(!r.isNullAt(3), "data fields must decode alongside metadata")
    }
    // provenance is per-file constant: distinct files == distinct (file,
    // from, to) triples
    val files = rows.map(_.getString(0)).distinct.length
    val triples = rows.map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).distinct.length
    assert(files == triples)
  }

  test("data fields decode with nulls and values intact") {
    val got = spark.read.format("graftbackup").load(outDir)
      .agg(sum(col("user_id")).cast("long"), count(col("props")))
      .collect().head
    val want = graft.Tables.events(spark, sf0001)
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-01-25 00:00:00").cast("timestamp") &&
        col("event_type").isNotNull)
      .agg(sum(col("user_id")).cast("long"), count(col("props")))
      .collect().head
    assert(got == want)
  }
}
