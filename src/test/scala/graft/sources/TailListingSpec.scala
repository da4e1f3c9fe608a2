package graft.sources

import graft.SparkTestBase
import graft.config.BackupConfig
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.StructType

/** The stream-tail listing lever (r13 verdict #2): leaf pruning BEFORE
  * file enumeration, per-leaf mtime caching so an unchanged leaf is
  * never re-listed, and one tree walk per trigger shared between
  * latestOffset and planInputPartitions.
  */
class TailListingSpec extends SparkTestBase {

  private lazy val outDir: String = {
    val out = java.nio.file.Files
      .createTempDirectory("graft_tail_listing").toString
    graft.operators.Backup.run(spark, BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = out,
      timeColumn = "ts", partitionColumn = "event_type",
      from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
      to = java.time.Instant.parse("2024-01-25T00:00:00Z")))
    // drop the sink's manifest log: this fixture exercises the WALK
    // path (subtree pruning + mtime cache) — the pre-manifest shape.
    // The manifest-serving tests below build their own root.
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(out, "_manifest"))
    out
  }

  private def stream(filters: Array[Filter] = Array.empty) =
    new BackupMicroBatchStream(outDir,
      new StructType().add("event_type", "string").add("date_dir", "string"),
      Seq("event_type", "date_dir"), filters, None, Array.empty)

  test("pruned layout never descends into excluded subtrees") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val (_, leaves) = BackupSource.layout(outDir, { m =>
      seen += m
      m.get("event_type").forall(_ == "click")
    })
    // every surviving leaf is the kept partition...
    assert(leaves.nonEmpty && leaves.forall(_.values("event_type") == "click"))
    // ...and the walk never went BELOW an excluded event_type: any map
    // carrying a second key (date_dir) under a non-click value would
    // prove the subtree was listed despite the prune
    val descended = seen.filter(m => m.size > 1 &&
      m.get("event_type").exists(_ != "click"))
    assert(descended.isEmpty,
      s"walk descended into pruned subtrees: $descended")
    // prune was still CONSULTED for the excluded top-level dirs
    assert(seen.exists(m => m.size == 1 &&
      m.get("event_type").exists(_ != "click")))
  }

  test("filtered tail lists only matching leaves and plans only their " +
    "files") {
    val s = stream(Array(EqualTo("event_type", "click")))
    val off = s.latestOffset().asInstanceOf[BackupOffset]
    assert(off.counts.nonEmpty &&
      off.counts.keySet.forall(_.startsWith("event_type=click/")),
      s"filtered offset leaked other partitions: ${off.counts.keySet}")
    val parts = s.planInputPartitions(s.initialOffset(), off)
    assert(parts.length == off.counts.values.sum)
  }

  test("streaming walk and batch layout agree leaf-for-leaf: same " +
    "keys, same file counts") {
    // the tail's incremental walk re-implements the Hive-tree decode
    // (it needs per-dir mtimes the shared layout doesn't track); this
    // pins the two walks to the SAME leaf contract so a future change
    // to escaping / chunk recognition / null-partition handling
    // applied to one cannot silently diverge the other
    val off = stream().latestOffset().asInstanceOf[BackupOffset]
    val rootStr = new org.apache.hadoop.fs.Path(outDir).toUri.getPath
    val fromLayout = BackupSource.layout(outDir)._2
      .filter(_.files.nonEmpty)
      .map { l =>
        val parent = new org.apache.hadoop.fs.Path(l.files.head)
          .getParent.toString
        val idx = parent.indexOf(rootStr)
        val key = if (idx >= 0)
          parent.substring(idx + rootStr.length).stripPrefix("/")
        else parent
        key -> l.files.length
      }.toMap
    assert(off.counts == fromLayout,
      s"streaming walk diverged from batch layout:\n stream $off\n " +
        s"batch $fromLayout")
  }

  test("unchanged leaves are served from the mtime cache; a touched " +
    "leaf is re-listed") {
    val s = stream()
    val off1 = s.latestOffset().asInstanceOf[BackupOffset] // lists, caches
    // age the entries past the safety window (the steady state of a
    // long-lived tail — entries are minutes-to-days old in production)
    s.ageCacheEntries(60000L)
    val off2 = s.latestOffset().asInstanceOf[BackupOffset]
    assert(off2.counts == off1.counts)

    // prove the CACHE answered off2: plant a file in one leaf but
    // restore the leaf's mtime to its cached stamp — a re-listing
    // would see the file, the cache must not
    val leafKey = off1.counts.keys.min
    val leafDir = new java.io.File(s"$outDir/$leafKey")
    val mtime = leafDir.lastModified()
    val planted = new java.io.File(leafDir,
      "99999999999999_99999999999999_deadbeef.json.gz")
    assert(planted.createNewFile())
    assert(leafDir.setLastModified(mtime))
    val off3 = s.latestOffset().asInstanceOf[BackupOffset]
    assert(off3.counts == off1.counts,
      "cache was not used: the mtime-restored leaf was re-listed")

    // now let the mtime move (a real append does this): re-listed,
    // the planted file appears — and ONLY in that leaf
    assert(leafDir.setLastModified(System.currentTimeMillis()))
    val off4 = s.latestOffset().asInstanceOf[BackupOffset]
    assert(off4.counts(leafKey) == off1.counts(leafKey) + 1)
    assert((off4.counts - leafKey) == (off1.counts - leafKey))

    // the new file is exactly what the next batch plans
    val parts = s.planInputPartitions(BackupOffset(off1.counts), off4)
    assert(parts.length == 1)
    assert(parts.head.asInstanceOf[BackupFilePartition]
      .file.endsWith("deadbeef.json.gz"))
  }

  test("a fresh cache entry (age within the safety window) is " +
    "re-listed, not trusted") {
    val s = stream()
    val leafKey = s.latestOffset().asInstanceOf[BackupOffset].counts.keys.max
    val leafDir = new java.io.File(s"$outDir/$leafKey")
    val m0 = leafDir.lastModified()
    val off1 = s.latestOffset().asInstanceOf[BackupOffset]
    val planted = new java.io.File(leafDir,
      "99999999999999_99999999999998_cafebabe.json.gz")
    assert(planted.createNewFile())
    // even with the mtime pinned back to the cached stamp (the
    // granularity-collision scenario: a write landing in the same
    // mtime stamp as the cached listing), the entry is younger than
    // the safety window, so the trust condition fails and the leaf is
    // re-listed — the file is seen. This is the exact hazard the
    // age-based guard exists to close, and it needs no driver/namenode
    // clock agreement (entry age is driver-vs-driver time).
    assert(leafDir.setLastModified(m0))
    val off2 = s.latestOffset().asInstanceOf[BackupOffset]
    assert(off2.counts(leafKey) == off1.counts(leafKey) + 1,
      "safety window failed: a same-stamp append went unseen")
    planted.delete()
  }

  test("an OLD entry whose listing happened at window-open is still " +
    "re-listed (r15-advice hazard: entry age proves nothing)") {
    val s = stream()
    val off1 = s.latestOffset().asInstanceOf[BackupOffset]
    val leafKey = off1.counts.keys.min
    val leafDir = new java.io.File(s"$outDir/$leafKey")
    val mtime = leafDir.lastModified()
    // a write landing in the SAME mtime granule right after the cached
    // listing: mtime unchanged, file not in the cached list
    val planted = new java.io.File(leafDir,
      "99999999999999_99999999999997_feedface.json.gz")
    assert(planted.createNewFile())
    assert(leafDir.setLastModified(mtime))
    // time passes: the entry becomes arbitrarily old, but its listing
    // was taken when the stamp was FIRST observed (window not closed),
    // so age must not create trust — the pre-fix `now - listedAt`
    // condition would trust here and hide the chunk forever
    s.backdateCacheEntries(60000L)
    val off2 = s.latestOffset().asInstanceOf[BackupOffset]
    assert(off2.counts(leafKey) == off1.counts(leafKey) + 1,
      "aged window-open entry was trusted: same-granule append unseen")
    // and once a listing HAS been taken after the window closed
    // (re-list above preserved firstObservedAt; backdate ages it),
    // the entry is trusted — plant again with the stamp pinned to
    // prove the cache (not a listing) answers
    s.ageCacheEntries(60000L)
    val planted2 = new java.io.File(leafDir,
      "99999999999999_99999999999996_feedfffe.json.gz")
    assert(planted2.createNewFile())
    assert(leafDir.setLastModified(mtime))
    val off3 = s.latestOffset().asInstanceOf[BackupOffset]
    assert(off3.counts == off2.counts,
      "window-closed listing was not trusted (cache miss expected hit)")
    planted.delete()
    planted2.delete()
  }

  // ---- sink-published manifest serving (r14 verdict #1) --------------

  /** A root WITH the sink's `_manifest/` record log (every commit
    * writes one), plus the frozen dir-mtime map for the constant-mtime
    * simulation. */
  private def manifestRoot(): String = {
    val out = java.nio.file.Files
      .createTempDirectory("graft_tail_manifest").toString
    graft.operators.Backup.run(spark, BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = out,
      timeColumn = "ts", partitionColumn = "event_type",
      from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
      to = java.time.Instant.parse("2024-01-15T00:00:00Z")))
    out
  }

  private def dirMtimes(root: String): Map[java.io.File, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f +: f.listFiles().toSeq.flatMap(walk)
      else Seq.empty
    walk(new java.io.File(root)).map(d => d -> d.lastModified()).toMap
  }

  test("manifest-served triggers consult no data-directory listing: " +
    "an unrecorded planted file is invisible; sink appends are seen " +
    "under constant directory mtimes") {
    val out = manifestRoot()
    assert(new java.io.File(out, "_manifest").isDirectory,
      "sink commit did not write a manifest record")
    val s = new BackupMicroBatchStream(out,
      new StructType().add("event_type", "string").add("date_dir", "string"),
      Seq("event_type", "date_dir"), Array.empty, None, Array.empty)
    val off1 = s.latestOffset().asInstanceOf[BackupOffset] // reconcile walk
    assert(off1.counts.nonEmpty)

    // a file planted OUTSIDE the sink (no record, fresh leaf mtime — a
    // tree walk would see it) must be invisible: manifest mode never
    // lists a data directory again
    val leafKey = off1.counts.keys.min
    val planted = new java.io.File(new java.io.File(out, leafKey),
      "99999999999999_99999999999999_deadbeef.log.gz")
    assert(planted.createNewFile())
    val off2 = s.latestOffset().asInstanceOf[BackupOffset]
    assert(off2.counts == off1.counts,
      "tail listed a data directory in manifest mode (planted file seen)")

    // simulated constant-mtime filesystem (the object-store shape the
    // r14 leaf cache is soundly disabled on): freeze every directory
    // stamp across a real sink append — the appended chunks must still
    // be served, from the commit's manifest record alone
    val frozen = dirMtimes(out)
    graft.operators.Backup.incremental(spark, s"$sf0001/events.parquet",
      out, java.time.Instant.parse("2024-01-25T00:00:00Z"))
    frozen.foreach { case (d, m) => d.setLastModified(m): Unit }
    s.ageCacheEntries(60000L) // a cache fallback would trust stale lists
    val off3 = s.latestOffset().asInstanceOf[BackupOffset]
    val added = off3.counts.values.sum - off2.counts.values.sum
    assert(added > 0,
      "sink-appended chunks were not served from the manifest log")

    // the increment plans exactly the recorded new chunks — never the
    // planted file — and every planned path opens
    val parts = s.planInputPartitions(off2, off3)
      .map(_.asInstanceOf[BackupFilePartition])
    assert(parts.length == added)
    assert(!parts.exists(_.file.contains("deadbeef")))
    parts.foreach(p => assert(
      new java.io.File(p.file.stripPrefix("file:")).exists(),
      s"planned path missing: ${p.file}"))
    planted.delete()
  }

  test("walk-mode offsets resume seamlessly in manifest mode (same " +
    "leaf keys and counts)") {
    val out = manifestRoot()
    // walk-only view of the same root: delete the log for stream A
    val manifestDir = java.nio.file.Paths.get(out, "_manifest")
    val saved = java.nio.file.Files.createTempDirectory("graft_mf_save")
    val savedDir = saved.resolve("_manifest")
    java.nio.file.Files.move(manifestDir, savedDir)
    val offWalk = new BackupMicroBatchStream(out,
      new StructType().add("event_type", "string"),
      Seq("event_type", "date_dir"), Array.empty, None, Array.empty)
      .latestOffset().asInstanceOf[BackupOffset]
    java.nio.file.Files.move(savedDir, manifestDir)
    val offManifest = new BackupMicroBatchStream(out,
      new StructType().add("event_type", "string"),
      Seq("event_type", "date_dir"), Array.empty, None, Array.empty)
      .latestOffset().asInstanceOf[BackupOffset]
    // identical keys AND counts: a checkpoint written before the log
    // existed resumes against manifest-served counts with no shift
    assert(offManifest.counts == offWalk.counts)
  }

  test("time-filtered tail: offsets stay filter-independent, but no " +
    "zone-map-pruned chunk is ever planned") {
    // r14 verdict #6 adjudication: keepFile is deliberately NOT folded
    // into the offset accounting — counts are positions in the full
    // sorted per-leaf name list, so they must be a property of the
    // directory state alone (a checkpoint resumed by a query pushing
    // different residual time filters would otherwise re-read or skip
    // chunks). The pruning belongs to the batch slice, where it already
    // runs: a planned partition set for a time-windowed tail excludes
    // every chunk whose name envelope can't match.
    val bound = "2024-01-20 00:00:00"
    val timeFilters: Array[Filter] =
      Array(org.apache.spark.sql.sources.GreaterThan("ts", bound))
    val filtered = new BackupMicroBatchStream(outDir,
      new StructType().add("event_type", "string").add("ts", "string"),
      Seq("event_type", "date_dir"), Array.empty, Some("ts"), timeFilters)
    val plain = stream()

    val offF = filtered.latestOffset().asInstanceOf[BackupOffset]
    val offP = plain.latestOffset().asInstanceOf[BackupOffset]
    assert(offF.counts == offP.counts,
      "time filters leaked into the offset accounting")

    val parts = filtered.planInputPartitions(
      filtered.initialOffset(), offF).map(_.asInstanceOf[BackupFilePartition])
    val all = plain.planInputPartitions(plain.initialOffset(), offP)
    assert(parts.length < all.length,
      "zone maps pruned nothing — fixture must span the bound")
    assert(parts.nonEmpty)
    // every planned chunk MAY match; every skipped chunk CANNOT
    val boundUs = BackupSource.boundMicros(bound).get
    val plannedNames = parts.map(p =>
      new org.apache.hadoop.fs.Path(p.file).getName).toSet
    all.map(_.asInstanceOf[BackupFilePartition]).foreach { p =>
      val name = new org.apache.hadoop.fs.Path(p.file).getName
      ChunkName.parse(name).map(_.rangeMicros).foreach { case (_, hi) =>
        if (plannedNames.contains(name))
          assert(hi > boundUs, s"planned a chunk outside the window: $name")
        else
          assert(hi <= boundUs, s"pruned a chunk that may match: $name")
      }
    }
  }

  test("mutating maintenance drops the manifest log: a tail started " +
    "after retention plans only files that exist") {
    val out = manifestRoot()
    assert(new java.io.File(out, "_manifest").isDirectory)
    // prune the first half of the window — chunks vanish, and an
    // append-only record log about them would poison every future
    // tail's reconcile
    val n = graft.operators.Backup.retentionPrune(spark, out,
      java.time.Instant.parse("2024-01-10T00:00:00Z"))
    assert(n > 0, "retention deleted nothing — fixture window wrong")
    assert(!new java.io.File(out, "_manifest").exists(),
      "retention left the stale manifest log behind")
    val s = new BackupMicroBatchStream(out,
      new StructType().add("event_type", "string"),
      Seq("event_type", "date_dir"), Array.empty, None, Array.empty)
    val off = s.latestOffset().asInstanceOf[BackupOffset]
    val parts = s.planInputPartitions(s.initialOffset(), off)
      .map(_.asInstanceOf[BackupFilePartition])
    assert(parts.nonEmpty)
    parts.foreach(p => assert(
      new java.io.File(p.file.stripPrefix("file:")).exists(),
      s"tail planned a pruned chunk: ${p.file}"))
    // and the next sink append restores incremental manifest serving
    graft.operators.Backup.incremental(spark, s"$sf0001/events.parquet",
      out, java.time.Instant.parse("2024-01-25T00:00:00Z"))
    assert(new java.io.File(out, "_manifest").isDirectory,
      "post-mutation commit did not resume the record stream")
  }

  test("manifest log compaction folds records and preserves the union") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_mf_compact").toString
    val rootPath = new org.apache.hadoop.fs.Path(out)
    val fs = rootPath.getFileSystem(
      spark.sessionState.newHadoopConf())
    val n = BackupSink.ManifestCompactThreshold + 5
    (1 to n).foreach { i =>
      BackupSink.writeManifestRecord(fs, rootPath, f"b-$i%05d",
        Seq(s"event_type=click/date_dir=20240101/chunk_$i.log.gz"))
    }
    assert(BackupSink.manifestRecordFiles(fs, rootPath).size == n)
    BackupSink.maybeCompactManifest(fs, rootPath)
    val after = BackupSink.manifestRecordFiles(fs, rootPath)
    assert(after.size == 1, s"expected one compacted record, got $after")
    val lines = scala.io.Source.fromInputStream(
      fs.open(after.head.getPath)).getLines().toSet
    assert(lines == (1 to n).map(i =>
      s"event_type=click/date_dir=20240101/chunk_$i.log.gz").toSet)
    // idempotent below threshold: a second call leaves it alone
    BackupSink.maybeCompactManifest(fs, rootPath)
    assert(BackupSink.manifestRecordFiles(fs, rootPath).size == 1)
  }
}
