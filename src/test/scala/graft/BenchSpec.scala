package graft

/** Pins the Bench stdout contract: the driver keeps only the final
  * ~2000 bytes of stdout and parses the LAST line. BENCH_r01/r03/r04
  * were all `parsed: null` because a per-query map shared the final
  * line and outgrew that window as the suite grew. These tests make the
  * regression impossible to reintroduce silently.
  *
  * SparkTestBase (not bare AnyFunSuite): deriving the rows-only list
  * forces SparkEntry.oracleSql, whose IVF/PQ/k-means entries train
  * codebooks and need an active session — without one, those defs
  * would silently latch rows-only for the whole test JVM. */
class BenchSpec extends SparkTestBase {

  test("final bench line stays far under the driver's 2000-byte tail window") {
    // Worst-plausible values: 5-digit totals, 3-digit failure count,
    // a long sf dir, the CURRENT rows-only list (derived — grows only
    // if an operator is added without an oracle, which this bound then
    // polices too). Still must fit with headroom.
    spark.sparkContext // force the session before defs trains codebooks
    // ONE defs snapshot (not separate queries/oracleSql evaluations):
    // the same double-snapshot race Bench/Verify fixed in r12 — an x37
    // train-state transition between two calls could flake this (r12
    // advisor).
    val rowsOnly = SparkEntry.defs.collect {
      case (k, d) if d.oracle.isEmpty => k
    }.toSeq.sorted
    val line = Bench.finalLine(
      total = 99999.999, totalOk = 99999.999, nFailed = 999,
      sfDir = "/data/graft/testdata/sf0.1", rowsOnly = rowsOnly,
      initialPartitions = 4096, inputMib = 99999999L, nQueries = 99999)
    val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    // value-only now (no regression list, no host telemetry): a quarter
    // of the window, leaving the rest for the per-query lines before it
    assert(bytes < 512, s"final line is $bytes bytes: $line")
  }

  test("rows-only-by-design stays the known inexpressible set") {
    // r8_crc32 is the ONLY remaining oracle-less query (DuckDB has no
    // crc32; it is pinned by BackupSpec's file-level CRC checks
    // instead). The BPE pair got unrolled-CTE oracles in r12. Any NEW
    // oracle-less query must be a conscious decision, not an accident
    // — this test is the tripwire.
    spark.sparkContext // force the session before defs trains codebooks
    // one defs snapshot — same race-avoidance as above (r12 advisor)
    val rowsOnly = SparkEntry.defs.collect {
      case (k, d) if d.oracle.isEmpty => k
    }.toSeq.sorted
    assert(rowsOnly == Seq("r8_crc32"),
      s"rows-only set changed: $rowsOnly")
  }

  test("final bench line size is independent of the query count") {
    // The clip happened because the queries map rode on the final line.
    // The contract line must never mention queries, and its length must
    // not vary with how many queries SparkEntry declares.
    val line = Bench.finalLine(1.0, 1.0, 0, "/root/testdata/sf0.1")
    assert(!line.contains("\"queries\""))
    // signature takes scalars only (plus the bounded rows-only list);
    // assert the rendered shape is exactly the driver contract keys
    val keys = "\"(\\w+)\":".r.findAllMatchIn(line).map(_.group(1)).toSeq
    assert(keys == Seq("metric", "value", "unit", "total_ok", "n_failed",
      "rows_only_by_design", "initial_partitions", "input_mib",
      "n_queries", "sec_per_query", "sf"))
  }

  test("per-query lines are small self-contained JSON (driver-tail survivable)") {
    // r17: the 7.5 KB queries-map line outgrew the driver's ~2.7 KB
    // stdout tail (PERF_r16 per_query == {}); per-query timings now ALSO
    // print one line each so the tail always ends in complete,
    // individually-parsable records. Pin the exact shape and a size
    // bound: ~60 of these must fit in the tail alongside the final line.
    val line = Bench.perQueryLine("x63_lsh_dedup_recall", 2.2856)
    assert(line == """{"q":"x63_lsh_dedup_recall","sec":2.286}""")
    assert(line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length < 64)
    // failed queries carry the negated wall, same as the map rendering
    assert(Bench.perQueryLine("q01_pricing_summary", -1.5)
      == """{"q":"q01_pricing_summary","sec":-1.500}""")
  }

  test("per-query line escapes quotes and backslashes in the key") {
    val key = "odd\"key\\name"
    val line = Bench.perQueryLine(key, 1.0)
    assert(line == """{"q":"odd\"key\\name","sec":1.000}""")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("q").asText() == key)
    assert(node.get("sec").asDouble() == 1.0)
  }

  test("stdout is the map line first, one line per query, the final line last") {
    val lines = Bench.stdoutLines(Seq(
      Bench.Timed("q01_a", 1.25, ok = true),
      Bench.Timed("q02_b", -0.5, ok = false),
      Bench.Timed("x03_c", 2.0, ok = true)),
      sfDir = "/tmp/sf", rowsOnly = Seq("x03_c"),
      initialPartitions = 4, inputMib = 12L)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val nodes = lines.map(json.readTree)
    assert(lines.size == 5)
    assert(lines.head ==
      """{"metric":"queries","queries":{"q01_a":1.250,"q02_b":-0.500,""" +
        """"x03_c":2.000},"sf":"/tmp/sf"}""")
    assert(nodes.slice(1, 4).map(n =>
      n.get("q").asText() -> n.get("sec").asDouble()) ==
      Seq("q01_a" -> 1.25, "q02_b" -> -0.5, "x03_c" -> 2.0))
    val last = nodes.last
    assert(last.get("metric").asText() == "total")
    assert(last.get("value").asDouble() == 3.75)     // |walls| summed
    assert(last.get("total_ok").asDouble() == 3.25)  // succeeded only
    assert(last.get("n_failed").asInt() == 1)
    assert(last.get("n_queries").asInt() == 3)
    assert(last.get("sec_per_query").asDouble() == 1.25)
    assert(last.get("rows_only_by_design").get(0).asText() == "x03_c")
    assert(last.get("initial_partitions").asInt() == 4)
    assert(last.get("input_mib").asLong() == 12L)
    assert(last.get("sf").asText() == "/tmp/sf")
  }

  test("driver session conf: cpu-wide shuffles, derived AQE width, " +
    "hash-join threshold, result cap at half the heap") {
    val conf = DriverSession.conf(cpus = 4, initialPartitions = 256,
      maxHeapBytes = 4L << 30).toMap
    assert(conf("spark.sql.shuffle.partitions") == "4")
    assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      == "256")
    assert(conf("spark.sql.adaptive.shuffledHashJoinLocalMapThreshold")
      == "128m")
    assert(conf("spark.driver.maxResultSize") == "2048m")
    // capped at 8g however large the heap
    val bigHeap = DriverSession.conf(4, 4, 64L << 30).toMap
    assert(bigHeap("spark.driver.maxResultSize") == "8192m")
    assert(conf("spark.sql.session.timeZone") == "UTC")
  }

  test("final line is valid minimal JSON with the keys the driver parses") {
    val line = Bench.finalLine(64.9, 64.9, 0, "/tmp/x")
    assert(line.startsWith("{") && line.endsWith("}"))
    assert(line.contains("\"metric\":\"total\""))
    assert(line.contains("\"value\":64.900"))
    assert(line.contains("\"unit\":\"sec\""))
    assert(line.contains("\"n_failed\":0"))
  }

  test("current SparkEntry query count would have clipped the old format") {
    // Documentation-as-test: with >=73 queries at ~25 bytes/entry the old
    // single-line format exceeds 2000 bytes — which is WHY the map now
    // lives on its own earlier line. If the suite ever shrinks below the
    // window this still holds the design invariant (final line value-only).
    val n = SparkEntry.queries.size
    assert(n >= 73, s"query surface shrank to $n — update SURVEY coverage")
  }

  test("derived AQE width: cpu floor at oracle scale, 256 at probe sf100") {
    // The r12 contract (r11 verdict #1): the oracle-scale suite keeps
    // EXACTLY the old constant (no plan change, regression gate stays
    // empty) while the third decade gets the width its x06 expansion
    // aggregate measured as needing (266.9 s spilled at 32 vs 178.9 s
    // at 256). Pin both ends from the sizing math itself.
    def widthFor(bytes: Long, cpus: Int): Int = {
      val dir = java.nio.file.Files.createTempDirectory("graft_width").toFile
      try {
        // one file of `bytes` sparse bytes — Files.size reads metadata
        val f = new java.io.RandomAccessFile(
          new java.io.File(dir, "x.parquet"), "rw")
        try f.setLength(bytes) finally f.close()
        DriverSession.derivedInitialPartitions(
          DriverSession.inputBytes(dir.getAbsolutePath), cpus)
      } finally {
        dir.listFiles().foreach(_.delete()); dir.delete(): Unit
      }
    }
    assert(widthFor(17L << 20, 32) == 32)           // sf0.1-shaped: floor
    assert(widthFor(1557L << 20, 32) == 32)         // sf10-shaped: floor
    assert(widthFor(15566L << 20, 32) == 256)       // sf100-shaped
    assert(widthFor(15566L << 30, 32) == 4096)      // petabyte-shaped: cap
    // unreadable dir -> 0 bytes -> the cpu floor, never a crash
    assert(DriverSession.derivedInitialPartitions(
      DriverSession.inputBytes("/nonexistent/path"), 32) == 32)
  }
}
