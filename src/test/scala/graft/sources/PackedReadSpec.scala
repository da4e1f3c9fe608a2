package graft.sources

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, LessThan}
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.config.BackupConfig
import graft.operators.Backup

/** Byte-sized read partitions: chunks of several leaves and days packed
  * into one task keep their per-chunk constants, the pushdowns keep
  * their answers, planning neither loses nor duplicates a chunk, and a
  * byte-bound split keeps at least `defaultParallelism` partitions. */
class PackedReadSpec extends SparkTestBase {

  private val types = Seq("a", "b", "c")
  private val t0 = Instant.parse("2024-03-01T00:00:00Z")
  private val n = 900
  // ~3 days at one event per 293 s: 3 partition values x 4 date_dirs
  private val events = (0 until n).map { i =>
    (i.toLong, types(i % 3), Timestamp.from(t0.plusSeconds(i * 293L)),
      if (i % 7 == 0) None else Some((i % 41).toLong))
  }
  private val typeOf = events.map(e => e._1 -> e._2).toMap
  private val partCols = Seq("event_type", "date_dir")

  private lazy val root: String = {
    val input = Files.createTempDirectory("graft_packed_in")
      .resolve("events.parquet").toString
    import spark.implicits._
    events.toDF("event_id", "event_type", "ts", "user_id").write.parquet(input)
    val out = Files.createTempDirectory("graft_packed_out").toString
    val res = Backup.run(spark, BackupConfig(inputPath = input,
      outputPath = out, from = t0, to = t0.plusSeconds(n * 293L),
      maxRowsPerChunk = 20))
    assert(res.chunks.size > 30, s"${res.chunks.size} chunks")
    out
  }

  private def read: DataFrame = spark.read.format("graftbackup").load(root)

  private def scanOf(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
    case r: DataSourceV2ScanRelation => r.scan
  }.head

  private def partitions(parts: Array[org.apache.spark.sql.connector.read.InputPartition]) =
    parts.toSeq.map(_.asInstanceOf[BackupReadPartition])

  private def plainScan(filters: Array[Filter] = Array.empty,
                        timeFilters: Array[Filter] = Array.empty,
                        limit: Option[Int] = None,
                        topN: Option[BackupSource.TopNSpec] = None) =
    new BackupScan(root, read.schema, partCols, filters, Some("ts"),
      timeFilters, limit, topN)

  /** Every chunk on disk, by path, from the walk. */
  private def leaves = BackupSource.layout(root)._2

  private def key(file: String) = new Path(file).toUri.getPath

  private def rowsOf(scan: BackupScan, p: BackupReadPartition) = {
    val r = scan.createReaderFactory().createReader(p)
    val out = Seq.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
    try while (r.next()) out += r.get().copy() finally r.close()
    out.result()
  }

  private def under[T](s: SparkSession)(body: => T): T = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    try body finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }

  test("a partition packing chunks of different leaves returns each " +
    "row's own partition values, _chunk_file and _chunk_from/_chunk_to") {
    val df = read.select(col("_chunk_file"), col("_chunk_from"),
      col("_chunk_to"), col("event_type"), col("date_dir"),
      col("event_id"), col("ts"))
    val parts = partitions(scanOf(df).toBatch.planInputPartitions())
    val chunks = parts.flatMap(_.chunks)
    assert(parts.size < chunks.size, "small chunks must share partitions")
    assert(parts.exists(_.chunks.map(_.partValues).distinct.size > 1),
      "no partition packs chunks of more than one leaf")
    val rows = df.collect()
    assert(rows.length == n)
    assert(rows.map(_.getLong(5)).toSet == events.map(_._1).toSet)
    rows.foreach { r =>
      val file = new Path(r.getString(0))
      val dateDir = file.getParent.getName
      val typeDir = file.getParent.getParent.getName
      assert(typeDir == s"event_type=${r.getString(3)}" &&
        dateDir == s"date_dir=${r.getString(4)}", s"$file vs $r")
      assert(typeOf(r.getLong(5)) == r.getString(3), s"$r")
      val name = ChunkName.parse(file.getName).get
      assert(r.getString(1) == name.from && r.getString(2) == name.to)
      val (lo, hi) = name.rangeMicros
      val ts = BackupSource.boundMicros(r.getString(6)).get
      assert(ts >= lo && ts < hi, s"row outside its chunk's envelope: $r")
    }
  }

  test("LIMIT, ORDER BY ts DESC LIMIT, count(*) and an empty window keep " +
    "their answers; the limit and the TopN heap are per partition") {
    val ids = events.map(_._1).toSet
    val limited = read.select(col("event_id")).limit(7).collect()
      .map(_.getLong(0))
    assert(limited.length == 7 && limited.distinct.length == 7 &&
      limited.forall(ids))
    val newest = read.select(col("event_id"))
      .orderBy(col("ts").desc, col("event_id").desc).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(newest == events.sortBy(e => (-e._3.getTime, -e._1))
      .take(10).map(_._1))
    assert(read.count() == n)
    assert(read.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      events.groupBy(_._2).map { case (t, es) => t -> es.size.toLong })
    val emptyWindow = read.filter(col("ts") >= "2030-01-01 00:00:00")
    assert(PlannedChunks(scanOf(emptyWindow).toBatch.planInputPartitions())
      .isEmpty, "zone maps must prune every chunk")
    assert(emptyWindow.count() == 0L)
    // an absorbed filter keeps the count pushed: its empty plan is one
    // synthetic partition of no chunks, whose zero row keeps count = 0
    val pushed = read.filter(col("event_type") === "none").agg(count(lit(1)))
    val pushedParts = partitions(scanOf(pushed).toBatch.planInputPartitions())
    assert(pushedParts.map(_.chunks.size) == Seq(0))
    assert(pushed.collect().head.getLong(0) == 0L)

    // the readers, one packed partition at a time
    val biggest = partitions(plainScan().planInputPartitions())
      .maxBy(_.chunks.size)
    assert(biggest.chunks.size > 2)
    val all = rowsOf(plainScan(), biggest)
    assert(all.size > 30)
    // one cap for the partition: a per-chunk cap of 30 would return
    // every line, since no chunk holds more than 20
    assert(rowsOf(plainScan(limit = Some(30)), biggest).size == 30)
    val spec = BackupSource.TopNSpec(
      Seq(BackupSource.TopNKey("ts", descending = true, nullsFirst = false),
        BackupSource.TopNKey("event_id", descending = true,
          nullsFirst = false)), 5)
    val schema = read.schema
    val (tsI, idI) = (schema.fieldIndex("ts"), schema.fieldIndex("event_id"))
    def tsId(r: org.apache.spark.sql.catalyst.InternalRow) =
      (r.getUTF8String(tsI).toString, r.getLong(idI))
    val top = rowsOf(plainScan(topN = Some(spec)), biggest).map(tsId)
    assert(top == all.map(tsId).sortBy(identity)(Ordering[(String, Long)]
      .reverse).take(5), "one heap for the whole partition")

    // count pushdown: one partial row per chunk, over packed partitions
    val agg = scanOf(read.agg(count(lit(1)))).asInstanceOf[BackupAggScan]
    val aggParts = partitions(agg.toBatch.planInputPartitions())
    val perChunk = aggParts.map { p =>
      val r = agg.createReaderFactory().createReader(p)
      val counts = Seq.newBuilder[Long]
      try while (r.next()) counts += r.get().getLong(0) finally r.close()
      assert(counts.result().size == p.chunks.size)
      counts.result().sum
    }
    assert(aggParts.size < aggParts.map(_.chunks.size).sum)
    assert(perChunk.sum == n)
  }

  test("planned chunks are exactly the survivors of keep/keepFile — none " +
    "lost or duplicated — for a static filter, a zone-map window, a DPP " +
    "runtime filter and the stream tail") {
    val onDisk = leaves.flatMap(l => l.files.map(f => (key(f), l.values)))
    def check(parts: Array[org.apache.spark.sql.connector.read.InputPartition],
              want: Seq[String]): Unit = {
      val got = PlannedChunks(parts).map(c => key(c.file))
      assert(got.size == got.distinct.size, "a chunk was planned twice")
      assert(got.toSet == want.toSet)
      assert(parts.length < got.size, "chunks were not packed")
    }
    check(plainScan(Array(EqualTo("event_type", "b"))).planInputPartitions(),
      onDisk.collect { case (f, v) if v("event_type") == "b" => f })

    val window: Array[Filter] = Array(
      GreaterThanOrEqual("ts", "2024-03-02 06:00:00"),
      LessThan("ts", "2024-03-03 00:00:00"))
    val inWindow = onDisk.collect {
      case (f, _) if BackupSource.chunkMayMatch(
          ChunkName.parse(new Path(f).getName).get.rangeMicros, "ts",
          window.toSeq) => f
    }
    assert(inWindow.nonEmpty && inWindow.size < onDisk.size / 2)
    check(plainScan(timeFilters = window).planInputPartitions(), inWindow)

    val dpp = plainScan()
    dpp.filter(Array[Filter](In("event_type", Array("a", "c"))))
    check(dpp.planInputPartitions(),
      onDisk.collect { case (f, v) if v("event_type") != "b" => f })

    val tail = new BackupMicroBatchStream(root,
      new StructType().add("event_id", "long"), partCols, Array.empty,
      None, Array.empty)
    check(tail.planInputPartitions(tail.initialOffset(), tail.latestOffset()),
      onDisk.map(_._1))
  }

  test("a byte-bound split keeps at least defaultParallelism partitions, " +
    "none past maxSplitBytes plus one chunk") {
    val lengths = leaves.flatMap(_.lengths)
    val total = lengths.sum
    val dp = spark.sparkContext.defaultParallelism
    val maxPartitionBytes = total / (2 * dp)
    assert(maxPartitionBytes > lengths.max, "fixture chunks too large")
    val clone = spark.newSession()
    clone.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
    clone.conf.set("spark.sql.files.openCostInBytes", 1L)
    // min(maxPartitionBytes, max(openCost, (total + openCost · #chunks) / dp))
    val maxSplit = math.min(maxPartitionBytes,
      math.max(1L, (total + lengths.size) / dp))
    assert(maxSplit == maxPartitionBytes, "split must be bound by bytes")
    val parts = partitions(under(clone)(plainScan().planInputPartitions()))
    assert(parts.size >= dp, s"${parts.size} partitions < $dp")
    assert(parts.exists(_.chunks.size > 1), "packing must group chunks")
    parts.foreach { p =>
      val ls = p.chunks.map(_.length)
      assert(ls.sum <= maxSplit + ls.max, s"oversized partition: $ls")
    }
    assert(parts.flatMap(_.chunks).map(c => key(c.file)).sorted ==
      leaves.flatMap(_.files).map(key).sorted)
  }
}
