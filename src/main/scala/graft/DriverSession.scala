package graft

import org.apache.spark.sql.SparkSession

/** The one session every main ([[Bench]], [[Verify]], the
  * [[graft.tools]] mains) runs on, so the plans Bench times are the
  * plans Verify dumps for the oracle. Session state is built here once;
  * operators never change it. */
object DriverSession {

  /** What [[build]] returns: the session and the AQE sizing it derived
    * (Bench reports both on its final line). */
  final case class Built(spark: SparkSession, initialPartitions: Int,
                         inputMib: Long)

  /** The session conf, as (key, value) pairs. */
  private[graft] def conf(cpus: Int, initialPartitions: Int,
                          maxHeapBytes: Long): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // When a build side outgrows the broadcast threshold, convert the
    // sort-merge join to a shuffled-hash join at runtime if its largest
    // observed partition fits this budget: the probe stream is then
    // hashed against a per-partition map instead of being SORTED — and
    // for a wide stream that sort is the cost (sf10 measured x06's
    // verify: two sort-merge joins re-sorting a 39.5M-row × ~470 B
    // gram-array stream cost 3.3× the CPU of the hash shape per pair).
    // Broadcast still wins when eligible — AQE tries that conversion
    // first — so small scales keep their plans.
    "spark.sql.adaptive.shuffledHashJoinLocalMapThreshold" -> "128m",
    // AQE pre-coalesce width, derived from input bytes (see
    // [[derivedInitialPartitions]]). Explicit repartition(N) barriers
    // are exempt from coalescing either way.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      initialPartitions.toString,
    // The streaming queries' RESULT CHANNEL is a memory sink (the driver
    // pulls the bounded output to compare it); at sf100 the outer
    // stream-stream joins emit ~corpus-sized unmatched sides and the
    // default 1g cap aborts the pull even though the join itself
    // succeeded (s19 measured 1.5 GiB of task results). The cap is a
    // harness limit, not an engine one, so it scales with the driver
    // heap: min(8g, heap/2). A fixed 8g on a small heap would let one
    // oversized pull OOM the driver instead of failing that query with
    // a clean maxResultSize error.
    "spark.driver.maxResultSize" ->
      s"${math.min(8L << 30, maxHeapBytes / 2) >> 20}m",
    "spark.sql.session.timeZone" -> "UTC",
    // a TIMESTAMP(NANOS) parquet column reads as long; Tables.loadPath
    // converts it to µs TimestampType
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the fixed IVF/PQ codebook training sample: the oracle SQL embeds
    // the codebooks trained on it, whatever sf the queries run at
    graft.similarity.Ivf.TrainDirKey -> "/root/testdata/sf0.001",
    "spark.ui.enabled" -> "false")

  /** Builds the session for `sfDir` on `local[SPARK_GRAFT_CPUS]`
    * (default 32). The graft plan tier (GroupTopK strategy +
    * TopKRewrite + graft_* functions) is
    * registered at SESSION BUILD, the only registration route, not via
    * per-query calls: a mid-suite activation would make every later window-rank
    * plan depend on suite execution order — with the extension here,
    * the plan each query gets is the plan a fresh-session library user
    * gets (PlanDeterminismSpec pins it). */
  def build(sfDir: String): Built = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // one walk of the data directory for both the sizing and the
    // reported input size (at sf100 the walk covers ~10⁵ files)
    val bytes = inputBytes(sfDir)
    val initParts = derivedInitialPartitions(bytes, cpus)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftSparkExtensions())
    conf(cpus, initParts, Runtime.getRuntime.maxMemory)
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    disableLocalChecksumSidecars(spark)
    Built(spark, initParts, bytes >> 20)
  }

  /** Releases per-query state so later queries don't run under the
    * accumulated weight of earlier ones (cached relations, streaming
    * memory-sink tables): r01 showed the streaming queries 5-15× slower
    * inside the full suite than alone. */
  def resetQueryState(spark: SparkSession): Unit =
    try {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect()
        .filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
    } catch { case _: Throwable => () }

  /** Total regular-file bytes under `dir` (compressed parquet on disk).
    * 0 where unreadable — the caller's cpu floor then applies. */
  private[graft] def inputBytes(dir: String): Long =
    try {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(p => try java.nio.file.Files.size(p)
          catch { case scala.util.control.NonFatal(_) => 0L })
        .sum()
      finally s.close()
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** Scale-aware AQE pre-coalesce width: shuffles start this wide and
    * coalesce DOWN by observed size. Derived from scanned input bytes
    * ([[inputBytes]] of the data directory)
    * at ~64 MiB per initial partition, rounded up to a power of two,
    * floored at the cpu count and capped at 4096 — so the oracle-scale
    * suite keeps the cpu-count width (sf0.1 = 16.7 MiB -> 32) while the
    * third decade gets the width it measured as needing: the sf100 probe
    * saw x06's 458 M-row expansion aggregate spill to the sort fallback
    * at width 32 (266.9 s wall / 6,702 cpu-s), recovered to 178.9 s /
    * 3,835 cpu-s at 256 — and 15.2 GiB / 64 MiB rounds to exactly 256.
    * Input bytes are a proxy for shuffle mass (the spilling aggregate
    * is intermediate, not input), but the engine's heavy shuffles are
    * all bounded-linear in input, so the proxy tracks. On a real
    * cluster this is the sizing a job submit does from table stats.
    * Constant-256 was trialled and rejected (+10% at sf0.1, per-shuffle
    * setup x iteration count on iterative/micro-batch queries) —
    * scale-awareness is the point. */
  private[graft] def derivedInitialPartitions(bytes: Long, cpus: Int): Int = {
    val target = 64L << 20
    val need = ((bytes + target - 1) / target).toInt
    val pow2 = if (need <= 1) 1
      else Integer.highestOneBit(need - 1) << 1
    math.min(4096, math.max(cpus, pow2))
  }

  /** Stop the local ChecksumFileSystem writing `.crc` sidecars for
    * Spark's OWN local writes (parquet/ORC outputs such as Restore's,
    * streaming checkpoints and state stores). Without libhadoop every
    * file create on that filesystem forks a `chmod`
    * (Shell.execCommand) — thread dumps of streaming stagers once
    * showed 32/32 task threads blocked on process spawn — and the
    * sidecars double the file count. Connector writes no longer go
    * through this instance: graftbackup writes use
    * [[graft.sources.WriteFs]], which sets modes in-process and keeps
    * its sidecars, so this setting does not reach them. Mutates the
    * CACHED file:/// instance, which local[*] executors share;
    * replacing the fs class outright (fs.file.impl =
    * RawLocalFileSystem) is NOT equivalent — it breaks RocksDB
    * state-store commits, which need the checksum fs's create/rename
    * semantics. On a real cluster (HDFS/S3A + native IO) neither the
    * fork nor the sidecar exists. */
  private[graft] def disableLocalChecksumSidecars(spark: SparkSession): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
  }
}
