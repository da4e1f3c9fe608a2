package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup

/** [EXT] Deduplication query surface over the `documents` fixture
  * (x0-prefix). Every oracle reproduces the Spark computation exactly in
  * DuckDB — the md5-derived hash family makes MinHash/SimHash signatures
  * bit-identical across engines. Oracle SQL is *generated* from the same
  * constants as the Spark plans (seeds, H/B/R, shingle size) so the two
  * sides cannot drift.
  */
object DedupQueries {

  import Dedup._

  // ---- DuckDB mirrors of the Dedup SQL fragments ---------------------

  /** h60 in DuckDB: same md5-prefix → 60-bit int. */
  private[queries] def duckHash(inner: String, seed: Int): String =
    s"('0x'||substr(md5('$seed|'||$inner),1,15))::BIGINT"

  /** Distinct word-ShingleK-grams in DuckDB (mirrors shinglesSql). */
  private val duckShingles: String = {
    val k = ShingleK
    s"list_distinct([array_to_string(w[i:i+${k - 1}],' ') " +
      s"for i in range(1, greatest(len(w)-${k - 1},1)+1)])"
  }

  /** Universal-hash MinHash over the base-hash list (mirrors
    * Dedup.withMinhashSig: one md5 per shingle, H derived hashes). */
  private val duckSigCols: String =
    (0 until MinHashH).map(i =>
      s"list_min([(${HashA(i)} * (h % $HashP) + ${HashB(i)}) % $HashP " +
        s"for h in hs]) AS sig$i").mkString(", ")

  private val duckBands: String =
    (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand)
        .map(r => s"sig${b * RowsPerBand + r}::VARCHAR")
        .mkString("||','||")
      s"SELECT doc_id, $b AS band, md5($parts) AS bucket FROM sig"
    }.mkString(" UNION ALL ")

  /** Hash list as its own CTE column (computed once per doc), then the
    * per-bit fold reads it — mirrors the Spark expression shape (and its
    * perf fix: hashing inside the per-bit lambda is ~50× the work). */
  private val duckHashList: String =
    s"[${duckHash("g", 0)} for g in gs]"

  /** Outer list_sum would be HUGEINT (→ float64 through pandas in the
    * driver's comparator) — cast BIGINT so the oracle value type matches
    * Spark's LongType exactly. */
  private val duckSimhash: String =
    s"""list_sum([(CASE WHEN list_sum([CASE WHEN (hv // (2**j)::BIGINT) % 2 = 1
       | THEN 1 ELSE -1 END for hv in hs]) > 0
       | THEN (2**j)::BIGINT ELSE 0 END) for j in range(0, $SimBits)])::BIGINT""".stripMargin

  // private[graft]: LshRecallSpec recomputes x63's truth set from the
  // same operating constants instead of hardcoding copies
  private[graft] val JaccardMaxDf = 10
  private[graft] val JaccardThreshold = 0.5
  private val SimhashMaxHamming = 3

  /** In-bucket pair generation with the occupancy cap mirrored from
    * [[graft.functions.DedupKernels.unorderedPairs]]: buckets of up to
    * [[MaxBucketOccupancy]] members expand to all i<j pairs; larger
    * buckets degrade to the star pattern — only pairs whose lower
    * member IS the bucket minimum. `rel` must expose doc_id and the
    * bucket key columns. (The fixture never exceeds the cap; modeling
    * it keeps the oracle semantics identical to the engine's for ANY
    * input.) */
  private def duckCappedPairs(rel: String, bucketKeys: Seq[String],
                              extraSelect: String = ""): String = {
    val part = bucketKeys.mkString(", ")
    val on = bucketKeys.map(k => s"a.$k = b.$k").mkString(" AND ")
    s"""bx AS (SELECT *,
       |  count(*) OVER (PARTITION BY $part) AS bn,
       |  min(doc_id) OVER (PARTITION BY $part) AS bm
       |  FROM $rel)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b$extraSelect
       |FROM bx a JOIN bx b
       |  ON $on AND a.doc_id < b.doc_id
       |WHERE (a.bn <= $MaxBucketOccupancy OR a.doc_id = a.bm)""".stripMargin
  }

  /** The full DuckDB WITH RECURSIVE CTE chain shared by the x22/x27/x55
    * oracles: shingle → MinHash signature → banded LSH pairs (occupancy
    * capped) → undirected edges → transitive closure → `cl(doc_id,
    * cluster_id)`. ONE source of truth — three hand-maintained copies of
    * this block were the likeliest future oracle drift. Callers prepend
    * `WITH RECURSIVE ` and append their own final SELECT (plus any extra
    * CTEs after a comma). */
  private val duckClusterClosureCtes: String =
    s"""d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
       |s AS (SELECT doc_id, $duckShingles gs FROM d),
       |hl AS (SELECT doc_id, $duckHashList hs FROM s),
       |sig AS (SELECT doc_id, $duckSigCols FROM hl),
       |bands AS ($duckBands),
       |bx AS (SELECT *,
       |  count(*) OVER (PARTITION BY band, bucket) AS bn,
       |  min(doc_id) OVER (PARTITION BY band, bucket) AS bm
       |  FROM bands),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bx a JOIN bx b
       |          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |          WHERE (a.bn <= $MaxBucketOccupancy OR a.doc_id = a.bm)),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       |       FROM reach GROUP BY a)""".stripMargin

  /** Shared oracle for the incremental-probe result shape: corpus
    * (non-src7) index postings, occupancy-capped, probed by the src7
    * increment. x51 (batch-built index) and s23 (stream-maintained
    * index) both converge to exactly this — one SQL string IS the
    * convergence claim. */
  private[queries] val duckIncrementalProbeSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
       |s AS (SELECT doc_id, $duckShingles gs FROM d),
       |hl AS (SELECT doc_id, $duckHashList hs FROM s),
       |sig AS (SELECT doc_id, $duckSigCols FROM hl),
       |bands AS ($duckBands),
       |b2 AS (SELECT bands.*, d2.source FROM bands
       |       JOIN documents d2 USING (doc_id)),
       |corp AS (SELECT * FROM b2 WHERE source <> 'src7'),
       |capped AS (SELECT band, bucket FROM corp
       |           GROUP BY band, bucket
       |           HAVING count(*) <= $MaxBucketOccupancy),
       |corpc AS (SELECT corp.* FROM corp JOIN capped USING (band, bucket)),
       |newb AS (SELECT * FROM b2 WHERE source = 'src7')
       |SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
       |FROM newb n JOIN corpc c USING (band, bucket)""".stripMargin

  /** Oracle for the ROLLING ingest pipeline (x60): three "days"
    * (src7, src8, src9) arrive in order against a base corpus of the
    * other 17 sources. Day k's batch probes the occupancy-capped view
    * of the posting log as of day k-1 (base + POSTINGS OF ADMITTED
    * docs only — rejected docs never enter the index), admits docs
    * with no candidate, and appends the admitted docs' postings. The
    * day loop is a fixed 3-element unroll (the BPE-oracle idiom), so
    * the sequential day-over-day state is expressed as generated CTE
    * layers; the cap is re-evaluated per day over the grown log, so a
    * bucket can fill up mid-sequence and stop producing candidates —
    * exactly what [[graft.dedup.Dedup.capPostings]] at probe time
    * does. */
  private[queries] val duckRollingIngestSql: String = {
    val days = Seq("src7", "src8", "src9")
    val dayList = days.map(d => s"'$d'").mkString(", ")
    val layers = days.zipWithIndex.map { case (day, i) =>
      val k = i + 1
      s"""c$k AS (SELECT band, bucket FROM p${k - 1}
         |  GROUP BY band, bucket
         |  HAVING count(*) <= $MaxBucketOccupancy),
         |n$k AS (SELECT band, bucket, doc_id FROM b2 WHERE source = '$day'),
         |dup$k AS (SELECT DISTINCT n.doc_id
         |  FROM n$k n
         |  JOIN (SELECT p.* FROM p${k - 1} p JOIN c$k USING (band, bucket)) c
         |  USING (band, bucket)),
         |adm$k AS (SELECT doc_id FROM documents
         |  WHERE source = '$day'
         |    AND doc_id NOT IN (SELECT doc_id FROM dup$k)),
         |p$k AS (SELECT * FROM p${k - 1}
         |  UNION ALL
         |  SELECT n.* FROM n$k n JOIN adm$k USING (doc_id))""".stripMargin
    }.mkString(",\n")
    val sel = days.indices.map { i =>
      val k = i + 1
      s"""SELECT $k AS ingest_day, d.doc_id, d.n_chars
         |FROM documents d JOIN adm$k USING (doc_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
       |s AS (SELECT doc_id, $duckShingles gs FROM d),
       |hl AS (SELECT doc_id, $duckHashList hs FROM s),
       |sig AS (SELECT doc_id, $duckSigCols FROM hl),
       |bands AS ($duckBands),
       |b2 AS (SELECT bands.*, d2.source FROM bands
       |       JOIN documents d2 USING (doc_id)),
       |p0 AS (SELECT band, bucket, doc_id FROM b2
       |       WHERE source NOT IN ($dayList)),
       |$layers
       |$sel""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    // reproducible train/val/test split: the portable 60-bit hash of the
    // doc id assigns each document a stable bucket in [0,100) — the
    // standard deterministic-sampling idiom for corpus curation (no RNG,
    // no seed state, identical on any engine, stable under reruns and
    // repartitioning)
    "x19_hash_split" -> QueryDef(
      s"""WITH s AS (SELECT doc_id,
         |  ${duckHash("CAST(doc_id AS VARCHAR)", 42)} % 100 AS bucket
         |  FROM documents)
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_docs
         |FROM s GROUP BY split""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      docs
        .withColumn("bucket",
          expr("element_at(graft_hash60_array(array(CAST(doc_id AS STRING)), 42), 1) % 100"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
    },

    // deterministic stratified sampling — the data-mixing op: each
    // stratum (source) keeps its own fraction, membership decided by
    // the portable 60-bit hash of the doc id under a dedicated seed
    // (independent of x19's split seed). No RNG, no seed state: the
    // sample is identical on any engine, stable under reruns and
    // repartitioning, and composes with the split (a doc's split and
    // sample memberships are independent hash bits). The high-resource
    // strata (src0-src9) keep 80%, the rest 40% — a mixing recipe, not
    // a uniform rate.
    "x25_stratified_sample" -> QueryDef(
      s"""WITH s AS (SELECT source, doc_id,
         |  ${duckHash("CAST(doc_id AS VARCHAR)", 7)} % 100 AS bucket
         |  FROM documents)
         |SELECT source, count(*) AS n_kept FROM s
         |WHERE bucket < CASE WHEN source ~ '^src[0-9]${"$"}'
         |                    THEN 80 ELSE 40 END
         |GROUP BY source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      docs
        .withColumn("bucket",
          expr("element_at(graft_hash60_array(array(CAST(doc_id AS STRING)), 7), 1) % 100"))
        .withColumn("frac",
          when(col("source").rlike("^src[0-9]$"), 80).otherwise(40))
        .filter(col("bucket") < col("frac"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    },

    // vocabulary / stop-gram analysis: top shingles by document
    // frequency with a total tie-break order — the view that drives
    // maxDf choices for the jaccard blocking above
    "x21_top_grams" -> QueryDef(
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |s AS (SELECT doc_id, $duckShingles gs FROM d),
         |ex AS (SELECT doc_id, unnest(gs) AS gram FROM s)
         |SELECT gram, count(*) AS df FROM ex GROUP BY gram
         |ORDER BY df DESC, gram LIMIT 20""".stripMargin) { (s, dir) =>
      Dedup.withShingles(Tables.documents(s, dir))
        .select(explode(col("gs")).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("gram"))
        .limit(20)
    },

    // near-dup CLUSTERS: connected components over the LSH pair graph
    // (cluster_id = min reachable doc_id) — pairwise candidates become
    // duplicate groups; the oracle computes the true transitive closure
    // with a recursive CTE over the same pairs
    "x22_dup_clusters" -> QueryDef(
      s"""WITH RECURSIVE $duckClusterClosureCtes
         |SELECT doc_id, cluster_id FROM cl""".stripMargin) { (s, dir) =>
      Dedup.dupClusters(Dedup.lshCandidatePairs(Tables.documents(s, dir)))
    },

    // near-dup dedup APPLIED: keep each cluster's canonical (minimum)
    // document plus every unclustered document — the corpus a pipeline
    // actually ships after x22's clustering. Left-anti join against the
    // non-canonical cluster members; per-source counts keep the
    // checkable output small while covering every row's keep/drop
    // decision.
    "x27_neardup_dedup_apply" -> QueryDef(
      s"""WITH RECURSIVE $duckClusterClosureCtes
         |SELECT source, count(*) AS n_kept FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id != cluster_id)
         |GROUP BY source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val clusters = Dedup.dupClusters(Dedup.lshCandidatePairs(docs))
      val dropIds = clusters
        .filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    },

    // keep-BEST dedup survivorship: a training pipeline keeps each
    // duplicate cluster's HIGHEST-QUALITY member (x12's composite
    // score), not the first-seen one — x27's keep-first is the
    // id-stable policy, this is the quality-stable one. One row per
    // REMOVED doc with the survivor it lost to. Ties after the
    // 6-decimal quality rounding break to the lower doc_id, so the
    // survivor set is deterministic in both engines. Plan: the x22
    // cluster labels (bounded label propagation) join the per-doc
    // quality scores, then ONE window ranks members per cluster and
    // the #clusters-row survivor side joins back on cluster_id —
    // both sides already hash-partitioned by cluster_id from the
    // window's shuffle.
    "x55_keep_best_dedup" -> QueryDef(
      s"""WITH RECURSIVE $duckClusterClosureCtes,
         |q AS (SELECT doc_id, ${TextQueries.duckQuality} AS quality
         |      FROM documents),
         |m AS (SELECT cl.doc_id, cl.cluster_id, q.quality,
         |        row_number() OVER (PARTITION BY cl.cluster_id
         |          ORDER BY q.quality DESC, cl.doc_id) AS rk
         |      FROM cl JOIN q USING (doc_id)),
         |k AS (SELECT cluster_id, doc_id AS kept_doc_id,
         |             quality AS kept_quality
         |      FROM m WHERE rk = 1)
         |SELECT m.doc_id, m.cluster_id, m.quality,
         |       k.kept_doc_id, k.kept_quality
         |FROM m JOIN k USING (cluster_id) WHERE m.rk > 1""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        val clusters = Dedup.dupClusters(Dedup.lshCandidatePairs(docs))
        val q = docs.select(col("doc_id"),
          graft.functions.TextAnalysis.qualityScore(col("text"))
            .as("quality"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("doc_id"))
        val ranked = clusters.join(q, "doc_id")
          .withColumn("rk", row_number().over(w))
        val kept = ranked.filter(col("rk") === 1)
          .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
            col("quality").as("kept_quality"))
        ranked.filter(col("rk") > 1)
          .join(kept, "cluster_id")
          .select(col("doc_id"), col("cluster_id"), col("quality"),
            col("kept_doc_id"), col("kept_quality"))
    },

    // exact dedup accounting: hash-groupBy per source
    "x01_dedup_exact_stats" -> QueryDef(
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_unique
        |FROM documents GROUP BY source""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
    },

    // exact dedup keep-first: representative id per content hash
    "x02_dedup_keep_first" -> QueryDef(
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
    },

    // MinHash + LSH banding: near-dup candidate pairs via band-bucket join
    "x03_minhash_lsh_pairs" -> QueryDef(duckLshPairsSql) { (s, dir) =>
      Dedup.lshCandidatePairs(Tables.documents(s, dir))
    },

    // LSH detection QUALITY measurement — the dedup family's x61/x62:
    // per-Jaccard-band recall of the banded-MinHash candidate generator
    // against the exact n-gram Jaccard ground truth (x06's complete
    // PPJoin-prefix pair set at the operating threshold). Each truth
    // pair lands in band floor(jaccard*10) ∈ {5..10}; n_lsh_hits counts
    // how many band members the LSH ALSO surfaced — the measured
    // S-curve 1-(1-s^r)^b that tunes Bands × RowsPerBand, observed on
    // the real corpus instead of assumed from theory. Integer outputs
    // keep the driver's hash compare exact; recall = n_lsh_hits /
    // n_truth per band. Both inputs are already bounded (PPJoin prefix
    // blocking on the truth side, occupancy-capped buckets on the LSH
    // side), so the eval costs one extra pair-keyed join and a
    // ≤11-row aggregate on top of running both generators — never a
    // doc×doc stage. Band boundaries compare identical 6dp-rounded
    // doubles on both engines, so floor(j*10) is engine-independent.
    "x63_lsh_dedup_recall" -> QueryDef(
      s"""WITH truth AS ($ngramJaccardOracleSql),
         |cand AS ($duckLshPairsSql)
         |SELECT CAST(floor(t.jaccard * 10) AS INT) AS jaccard_band,
         |  count(*)::BIGINT AS n_truth,
         |  sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_lsh_hits
         |FROM truth t LEFT JOIN cand c
         |  ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // r16 opt: ONE shingle+md5 pass serves both generators — the
      // truth set and the LSH candidates otherwise each recompute the
      // signature base over the full corpus (the two most expensive
      // stages of this query's eventlog profile). Same pairs on both
      // sides: the base IS ngramJaccardPairs' per-doc table, and
      // MinHash over the sorted hash array is order-independent. The
      // base cache is released by the truth side's listener after this
      // query's first action (which computes both subtrees).
      val base = Dedup.sharedSignatureBase(docs)
      val truth = Dedup.ngramJaccardPairsFromBase(base, JaccardMaxDf,
        JaccardThreshold)
      val cand = Dedup.lshCandidatePairsFromBase(base)
        .withColumn("hit", lit(1))
      truth.join(cand, Seq("doc_a", "doc_b"), "left")
        .groupBy(floor(col("jaccard") * 10).cast("int").as("jaccard_band"))
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_lsh_hits"))
    },

    // INCREMENTAL dedup probe — the production shape x03's corpus
    // self-join cannot reach: a NEW batch (src7, the "daily
    // increment") probes the PERSISTED LSH index of the existing
    // corpus (everything else). The Spark side actually round-trips
    // the index through parquet — built once from the corpus, saved,
    // read back, probed — because that is the 100 TB contract: the
    // index is written by yesterday's job, today's batch only joins
    // its own postings against it (O(batch), never a corpus rescan).
    // Hot buckets (> MaxBucketOccupancy corpus postings — stop-shingle
    // noise with quadratic fan-out and no recall) are dropped at index
    // build, mirrored exactly in the oracle.
    "x51_incremental_dedup_probe" -> QueryDef(duckIncrementalProbeSql) {
      (s, dir) =>
      val docs = Tables.documents(s, dir)
      val idxPath = QueryDef.scratchDir("x51_idx", dir)
      Dedup.lshIndex(docs.filter(col("source") =!= "src7"))
        .write.mode("overwrite").parquet(idxPath)
      Dedup.lshProbePairs(s.read.parquet(idxPath),
        docs.filter(col("source") === "src7"))
    },

    // ROLLING ingest pipeline — x51's incremental probe CHAINED into
    // s25's admit gate, day over day (r12 verdict #5): three "daily"
    // batches (src7, src8, src9) arrive in order against the persisted
    // posting log of the other 17 sources. Each day reads the log as
    // yesterday's job left it, probes the occupancy-capped view
    // (capPostings at probe time, the s23 invariance shape), admits
    // only docs with no near-dup candidate, and appends ONLY the
    // admitted docs' postings — so a doc rejected on day 1 never
    // blocks a day-2 doc, and day 2 IS gated on day 1's admissions
    // (the state the isolated x51/s25 checks can't see). Every write
    // goes to a fixed batch=<id>/day=<k> subdir with mode=overwrite
    // (idempotent replays, no stale state across reruns in one JVM);
    // the result is read back from the admitted-doc log, the same
    // yesterday-wrote-today-reads contract as x51. At 100 TB each
    // day costs O(batch × bucket-fanout) + one O(postings) cap
    // aggregate — the corpus is never rescanned and no day's work
    // grows with the number of PRIOR days beyond the posting log's
    // linear size.
    "x60_rolling_dedup_ingest" -> QueryDef(duckRollingIngestSql) {
      (s, dir) =>
      val docs = Tables.documents(s, dir)
      val days = Seq("src7", "src8", "src9")
      val logDir = QueryDef.scratchDir("x60_postlog", dir)
      val admitDir = QueryDef.scratchDir("x60_admit", dir)
      // CLEAR both trees before day 1: per-subdir overwrite alone is
      // not rerun-safe here because day 1 READS the whole log before
      // any day subdir is rewritten — a rerun in the same JVM would
      // probe day-1 docs against their own postings from the previous
      // run and reject everything (caught by RollingIngestSpec's
      // idempotence test on this query's first version)
      graft.util.Fs.deleteRecursively(logDir)
      graft.util.Fs.deleteRecursively(admitDir)
      Dedup.bandBuckets(docs.filter(!col("source").isin(days: _*)))
        .write.mode("overwrite").parquet(s"$logDir/batch=base")
      days.zipWithIndex.foreach { case (day, i) =>
        val k = i + 1
        val batch = docs.filter(col("source") === day)
        // r17 opt (guide §1.2): ONE signature pass per day. The old
        // shape ran the shingle+md5 signature computation TWICE per
        // day — once inside lshProbePairs(batch) and again as
        // bandBuckets(admitted) for the posting append. The batch's
        // postings are computed once, persisted, and feed BOTH: the
        // probe consumes them directly, and the appended postings are
        // the batch postings semi-joined on the admitted ids — rows
        // identical to bandBuckets(admitted) because postings are a
        // per-doc deterministic function (RollingIngestSpec pins the
        // equivalence).
        val batchPost = Dedup.bandBuckets(batch).persist()
        // list the log fresh each day: yesterday's append is visible,
        // today's own is not yet written
        val capped = Dedup.capPostings(s.read.parquet(logDir))
        val admitted = batch.join(
          Dedup.lshProbePairsFromPostings(capped, batchPost)
            .select(col("new_doc").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
          // two actions consume the admit decision (the admitted-doc
          // log and the posting append) — persist so the probe join
          // runs once per day, not per consumer
          .persist()
        try {
          admitted
            .select(lit(k).as("ingest_day"), col("doc_id"), col("n_chars"))
            .write.mode("overwrite").parquet(s"$admitDir/day=$k")
          batchPost
            .join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .write.mode("overwrite").parquet(s"$logDir/batch=day$k")
        } finally {
          admitted.unpersist(blocking = false)
          batchPost.unpersist(blocking = false)
        }
      }
      s.read.parquet(admitDir)
        .select(col("ingest_day"), col("doc_id"), col("n_chars"))
    },

    // MinHash-as-estimator: estimated jaccard (signature agreement
    // fraction, the unbiased MinHash estimate) for every LSH candidate
    // pair — the sketch-quality view next to x06's exact verify. At
    // corpus scale this is the cheap first-pass score: H long
    // comparisons per pair instead of a gram-set intersection.
    "x26_minhash_jaccard_estimate" -> QueryDef(
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |s AS (SELECT doc_id, $duckShingles gs FROM d),
         |hl AS (SELECT doc_id, $duckHashList hs FROM s),
         |sig AS (SELECT doc_id, $duckSigCols FROM hl),
         |bands AS ($duckBands),
         |bx AS (SELECT *,
         |  count(*) OVER (PARTITION BY band, bucket) AS bn,
         |  min(doc_id) OVER (PARTITION BY band, bucket) AS bm
         |  FROM bands),
         |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM bx a JOIN bx b
         |       ON a.band = b.band AND a.bucket = b.bucket
         |          AND a.doc_id < b.doc_id
         |       WHERE (a.bn <= $MaxBucketOccupancy OR a.doc_id = a.bm))
         |SELECT pr.doc_a, pr.doc_b,
         |  round((${(0 until MinHashH).map(i =>
             s"(sa.sig$i = sb.sig$i)::INT").mkString(" + ")})
         |    / ${MinHashH}.0, 6) AS est_jaccard
         |FROM pr
         |JOIN sig sa ON sa.doc_id = pr.doc_a
         |JOIN sig sb ON sb.doc_id = pr.doc_b""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sigd = Dedup.withMinhashSig(docs).select(col("doc_id"), col("sig"))
      val agree = (0 until MinHashH).map(i =>
        when(element_at(col("sig_a"), i + 1) === element_at(col("sig_b"), i + 1),
          1).otherwise(0)).reduce(_ + _)
      Dedup.lshCandidatePairs(docs)
        .join(sigd.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
          Seq("doc_a"))
        .join(sigd.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(agree.cast("double") / MinHashH, 6).as("est_jaccard"))
    },

    // SimHash fingerprints (48-bit, shingle-based)
    "x04_simhash" -> QueryDef(
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |s AS (SELECT doc_id, $duckShingles gs FROM d),
         |hl AS (SELECT doc_id, $duckHashList hs FROM s)
         |SELECT doc_id, $duckSimhash AS simhash FROM hl""".stripMargin) { (s, dir) =>
      Dedup.withSimhash(Tables.documents(s, dir))
        .select(col("doc_id"), col("simhash"))
    },

    // SimHash near-dup pairs: 12-bit chunk buckets + exact hamming verify
    "x05_simhash_pairs" -> QueryDef(
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |s AS (SELECT doc_id, $duckShingles gs FROM d),
         |hl AS (SELECT doc_id, $duckHashList hs FROM s),
         |sh AS (SELECT doc_id, $duckSimhash AS simhash FROM hl),
         |chunks AS (
         |  SELECT doc_id, simhash, c AS chunk_idx,
         |         (simhash // (2**(c*12))::BIGINT) % 4096 AS chunk
         |  FROM sh, unnest([0,1,2,3]) t(c)),
         |${duckCappedPairs("chunks", Seq("chunk_idx", "chunk"),
            ",\n  bit_count(xor(a.simhash, b.simhash)) AS hamming")}
         |  AND bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming""".stripMargin) { (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), SimhashMaxHamming)
    },

    // exact n-gram Jaccard with PPJoin prefix + rare-gram blocking:
    // each doc posts only its rarest len(gs)-ceil(t*len(gs))+1 grams
    // under the global (df, hash60) order, intersected with the
    // df-window [2, maxDf] — byte-identical mirror of
    // Dedup.ngramJaccardPairs' candidate stage
    "x06_ngram_jaccard_pairs" -> QueryDef(ngramJaccardOracleSql) { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        JaccardMaxDf, JaccardThreshold)
    },

    // the same operator in 120-bit verify-hash mode: candidates are
    // identical by construction (posting stays 60-bit) and the verify
    // counts must match the STRING-based oracle wherever collisions are
    // absent — which is what makes the wide mode's exact-jaccard claim
    // checkable: both modes hash-match one string-ground-truth oracle.
    "x28_ngram_jaccard_wide" -> QueryDef(ngramJaccardOracleSql) { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        JaccardMaxDf, JaccardThreshold, wideHash = true)
    },

    // pure-SQL API surface: the compiled graft kernels drive from
    // spark.sql over a temp view — the interop path a reference user
    // takes when their workload is SQL strings, not the Column API
    "q34_sql_api" -> QueryDef(
      s"""WITH d AS (SELECT source, string_split(text,' ') w FROM documents),
         |s AS (SELECT source, len($duckShingles) AS n FROM d)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(n) AS BIGINT) AS total_shingles
         |FROM s WHERE n >= 30 GROUP BY source""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).createOrReplaceTempView("graft_documents")
      s.sql(
        s"""SELECT source, count(*) AS n_docs,
           |       CAST(sum(n) AS BIGINT) AS total_shingles
           |FROM (SELECT source,
           |        size(graft_shingles(text, ${Dedup.ShingleK})) AS n
           |      FROM graft_documents)
           |WHERE n >= 30 GROUP BY source""".stripMargin)
    },

    // train/test contamination — eval-integrity: per test-split doc,
    // the fraction of its distinct shingles found anywhere in the train
    // split (string-gram ground truth in the oracle; the engine joins
    // on 60-bit gram hashes)
    "x29_contamination" -> QueryDef(
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |s AS (SELECT doc_id, $duckShingles gs FROM d),
         |b AS (SELECT doc_id, gs,
         |        ${duckHash("CAST(doc_id AS VARCHAR)", 42)} % 100 AS bucket
         |      FROM s),
         |tr AS (SELECT DISTINCT unnest(gs) AS gram FROM b WHERE bucket < 80),
         |te AS (SELECT doc_id, unnest(gs) AS gram FROM b WHERE bucket >= 90),
         |m AS (SELECT doc_id, count(*) AS n_hit
         |      FROM te JOIN tr USING (gram) GROUP BY doc_id)
         |SELECT b.doc_id, len(b.gs) AS n_gs,
         |       coalesce(m.n_hit, 0) AS n_hit,
         |       round(coalesce(m.n_hit, 0)::DOUBLE / len(b.gs), 6) AS containment
         |FROM b LEFT JOIN m ON b.doc_id = m.doc_id
         |WHERE b.bucket >= 90""".stripMargin) { (s, dir) =>
      Dedup.contamination(Tables.documents(s, dir))
    },

    // intra-document repetition ratio — the boilerplate/spam quality
    // signal: 1 - distinct/total word-k-grams. Total grams is the
    // closed form max(len(w)-k+1, 1) (same truncation as the shingler,
    // trailing empty tokens kept by both engines' split semantics).
    "x30_repetition_ratio" -> QueryDef(
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |s AS (SELECT doc_id, greatest(len(w) - ${Dedup.ShingleK - 1}, 1) AS n_total,
         |        len($duckShingles) AS n_distinct
         |      FROM d)
         |SELECT doc_id, n_total, n_distinct,
         |       round(1.0 - n_distinct::DOUBLE / n_total, 6) AS rep_ratio
         |FROM s""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("n_total",
          greatest(size(split(col("text"), " ", -1)) - lit(Dedup.ShingleK - 1),
            lit(1)).cast("long"))
        .withColumn("n_distinct",
          size(expr(s"graft_shingles(text, ${Dedup.ShingleK})")).cast("long"))
        .select(col("doc_id"), col("n_total"), col("n_distinct"),
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_total"), 6)
            .as("rep_ratio"))
    },

    // ---- x45: cross-source near-dup overlap matrix -------------------
    // "Which sources copy from which?" — the provenance view of x03's
    // candidate pairs: every banded-LSH pair tagged with its two
    // sources (pair normalized by least/greatest so the matrix is
    // upper-triangular including the diagonal = intra-source dups).
    // Scale shape: the pair set is already occupancy-capped by the LSH
    // (never doc×doc); source tags arrive via two hash joins on doc_id
    // (shuffle-safe at corpus scale — no broadcast of the corpus); the
    // final aggregate is ≤ |sources|² rows. This is the table that
    // decides which source to drop when near-dup mass concentrates in
    // one pair of crawls.
    "x45_source_overlap_matrix" -> QueryDef(
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |s AS (SELECT doc_id, $duckShingles gs FROM d),
         |hl AS (SELECT doc_id, $duckHashList hs FROM s),
         |sig AS (SELECT doc_id, $duckSigCols FROM hl),
         |bands AS ($duckBands),
         |bx AS (SELECT *,
         |  count(*) OVER (PARTITION BY band, bucket) AS bn,
         |  min(doc_id) OVER (PARTITION BY band, bucket) AS bm
         |  FROM bands),
         |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM bx a JOIN bx b
         |       ON a.band = b.band AND a.bucket = b.bucket
         |          AND a.doc_id < b.doc_id
         |       WHERE (a.bn <= $MaxBucketOccupancy OR a.doc_id = a.bm))
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       count(*) AS n_pairs
         |FROM pr JOIN documents da ON pr.doc_a = da.doc_id
         |        JOIN documents db ON pr.doc_b = db.doc_id
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val src = docs.select(col("doc_id"), col("source"))
      Dedup.lshCandidatePairs(docs)
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("src_a")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("src_b")), Seq("doc_b"))
        .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }
  )

  /** Banded-LSH candidate-pair oracle shared by x03 (the pair list) and
    * x63 (the recall eval, which nests it as a CTE): shingle → MinHash
    * signature → banded buckets → occupancy-capped in-bucket pairs. */
  private lazy val duckLshPairsSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
       |s AS (SELECT doc_id, $duckShingles gs FROM d),
       |hl AS (SELECT doc_id, $duckHashList hs FROM s),
       |sig AS (SELECT doc_id, $duckSigCols FROM hl),
       |bands AS ($duckBands),
       |${duckCappedPairs("bands", Seq("band", "bucket"))}""".stripMargin

  /** String-ground-truth jaccard oracle shared by x06 (60-bit) and x28
    * (120-bit): the hash width is an engine detail the oracle must not
    * see. */
  private lazy val ngramJaccardOracleSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |s AS (SELECT doc_id, $duckShingles gs FROM d),
         |ex AS (SELECT doc_id, len(gs) AS n_gs, unnest(gs) AS gram FROM s),
         |df AS (SELECT gram, count(*) AS c FROM ex GROUP BY gram
         |       HAVING count(*) >= 2),
         |ranked AS (SELECT ex.doc_id, ex.gram, df.c, ex.n_gs,
         |  row_number() OVER (PARTITION BY ex.doc_id
         |    ORDER BY df.c, ${duckHash("ex.gram", 0)}) AS rnk
         |  FROM ex JOIN df USING (gram)),
         |posted AS (SELECT doc_id, gram FROM ranked
         |  WHERE rnk <= n_gs - CAST(ceil($JaccardThreshold * n_gs) AS BIGINT) + 1
         |    AND c <= $JaccardMaxDf),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM posted a JOIN posted b
         |         ON a.gram = b.gram AND a.doc_id < b.doc_id),
         |j AS (
         |  SELECT doc_a, doc_b,
         |    round(len(list_intersect(sa.gs, sb.gs))::DOUBLE /
         |      (len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs))), 6) AS jaccard
         |  FROM cand
         |  JOIN s sa ON sa.doc_id = doc_a
         |  JOIN s sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM j
         |WHERE jaccard >= $JaccardThreshold""".stripMargin
}
