package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Every run function must be rerun-safe in one JVM: same result, no
  * leftover-state failure — a library caller, a test suite or a
  * one-JVM harness may run a query twice. Most queries are pure reads;
  * the stateful class is the scratch-dir/DDL set (backup spine,
  * roundtrip sources, persisted indexes, catalog DML). q73 once failed
  * exactly this way on a second run — DROP TABLE on its EXTERNAL table
  * kept the location's files and the rerun's CTAS refused the
  * non-empty dir — so this spec double-runs the whole stateful set and
  * would have caught it.
  *
  * Streaming queries are excluded: their rerun story is checkpoint
  * RESTART, pinned by the streaming specs (s19) and the s23/s26
  * convergence contracts.
  */
class RerunSafetySpec extends SparkTestBase {

  private val statefulKeys = Seq(
    "q27_colocated_join", "q40_merge_partitioned", "q45_schema_evolution",
    "q50_dpp", "q60_time_travel", "q67_compaction", "q71_cbo_stats_join",
    "q73_sql_dml",
    "r9_backup_roundtrip", "r10_csv_roundtrip", "r11_orc_roundtrip",
    "r12_restore_roundtrip", "r13_json_roundtrip", "r14_xml_roundtrip",
    "r15_backup_dsv2", "r16_backup_dsv2_write", "r17_backup_agg_pushdown",
    "r18_backup_time_prune", "r19_backup_incremental", "r20_backup_topn",
    "r21_backup_fsck", "r22_backup_retention", "r23_backup_catalog",
    "r24_partition_delete", "r25_chunk_provenance", "r26_backup_multicol",
    "r27_text_source", "r28_binaryfile_source",
    "x51_incremental_dedup_probe", "x56_pq_index_probe",
    "x60_rolling_dedup_ingest")

  test("stateful-set inventory: keys exist AND no scratch call site is " +
    "unaccounted for") {
    val qs = SparkEntry.queries
    val missing = statefulKeys.filterNot(qs.contains)
    assert(missing.isEmpty, s"stale keys in statefulKeys: $missing")
    // bidirectional half: a NEW QueryDef.scratchDir call site (the
    // stateful-query signature) must force a conscious update here —
    // key existence alone cannot detect an unlisted new stateful query.
    // Compared as KEY-PREFIX SETS, not a call-site count: every scratch
    // name starts with its query id ("q40_staging" → q40), so the set
    // only moves when an actual stateful query family appears or
    // disappears — refactors that add/remove a second call site for an
    // existing query (x56 has two today) don't trip it, and comments
    // are stripped so prose mentioning the call can't count (r13
    // advisor: the old magic-36 pin failed both ways).
    val root = new java.io.File("src/main/scala/graft")
    assume(root.isDirectory, "source tree not visible from test cwd")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val callArg = """QueryDef\.scratchDir\(\s*"([A-Za-z]+\d+)""".r
    val scratchPrefixes = scalaFiles(root).flatMap { f =>
      val src = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "")   // block comments / scaladoc
        .replaceAll("//.*", "")              // line comments
      callArg.findAllMatchIn(src).map(_.group(1))
    }.toSet
    val statefulPrefixes = statefulKeys
      .map(k => k.takeWhile(_ != '_')).toSet
    assert(scratchPrefixes == statefulPrefixes,
      s"scratch-using queries changed: call sites name " +
        s"${scratchPrefixes.toSeq.sorted.mkString(",")} but statefulKeys " +
        s"covers ${statefulPrefixes.toSeq.sorted.mkString(",")} — add the " +
        "new stateful query to statefulKeys (or drop the stale one)")
  }

  statefulKeys.foreach { key =>
    test(s"$key is rerun-safe in one JVM (identical content both runs)") {
      val fn = SparkEntry.queries(key)
      // full-content compare (sorted JSON rows): a rerun that reads
      // leftover state into different VALUES but the same cardinality
      // must fail too, not just a row-count change
      def snap(): Seq[String] = fn(spark, sf0001).toJSON.collect().toSeq.sorted
      val first = snap()
      val second = snap()
      assert(second == first, {
        val diff = second.diff(first).take(3)
        s"$key rerun changed content (${first.size} -> ${second.size} " +
          s"rows); first differing rows: $diff"
      })
    }
  }
}
