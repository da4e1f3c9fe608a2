package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Product-quantization (PQ) ANN — the compressed-domain search
  * tier next to hyperplane LSH ([[Ann]]) and IVF cells ([[Ivf]])
  * (SURVEY.md §8). Jégou et al., "Product Quantization for Nearest
  * Neighbor Search" (TPAMI 2011).
  *
  * The Dim=64 vector splits into M=16 contiguous 4-dim subspaces; each
  * subspace gets its own Ks=16-centroid codebook, so a corpus vector
  * compresses to 16 codes of 4 bits of information each — the form in
  * which a 100 TB embedding corpus actually fits in cluster memory
  * (64 floats = 256 B → 16 codes = 8 B packed; the float corpus stays
  * on disk and only re-materializes for an optional exact re-rank of
  * the short-list). Search is ASYMMETRIC
  * (ADC): the raw query is compared against coded vectors by summing,
  * per subspace, the exact distance from the query's slice to the
  * centroid the code names.
  *
  * Determinism contract (driver-oracle parity, the [[Ivf]] pattern):
  * codebooks are trained driver-side with Lloyd's algorithm on the
  * FIXED sf0.001 sample — deterministic init (subvectors of the first
  * Ks vectors by vec_id), fixed iteration count, summation in vec_id
  * order — and the centroid doubles are embedded as literals in both
  * the Spark codegen kernels ([[graft.functions.PqKernels]]) and the
  * DuckDB oracle SQL ([[graft.queries.SimilarityQueries]]). Per-
  * subspace distances round to integer MICRO-units before the
  * cross-subspace sum, so ADC totals are exact longs — order-free and
  * bit-identical in both engines.
  *
  * Scale shape: encoding is one codegen pass (no shuffle); ADC top-k
  * over the coded corpus is a scan + `TakeOrderedAndProject` — no
  * shuffle beyond the top-k merge. In production PQ composes with IVF
  * (IVF-ADC): cells bound the scan set, codes bound the memory; both
  * halves exist here and compose on the same `embeddings` frame.
  */
object Pq {

  /** Subspace count. The fixture embeddings are near-isotropic (no
    * low-dimensional structure for a coarse quantizer to exploit), so
    * recall comes from GRAIN: 16 subspaces of 4 dims at 16 centroids
    * each (64 bits/vector, 32× compression) halves per-subspace
    * distortion vs 8×8-dim and lifts exact-L2 top-10 recall measurably
    * (PqSpec pins the floor). */
  val M = 16
  /** Dims per subspace. */
  val SubDim: Int = Ivf.Dim / M
  /** Centroids per subspace codebook. */
  val Ks = 16
  /** Lloyd iterations per subspace. */
  val Iters = 5

  /** Deterministic per-subspace codebooks, [[M]]×[[Ks]]×[[SubDim]] —
    * trained once per JVM on the fixed sample ([[Ivf.trainDir]], same
    * override surface). Requires an active SparkSession for the same
    * reason [[Ivf.centroids]] does. */
  lazy val codebooks: Array[Array[Array[Double]]] = {
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "graft.similarity.Pq codebook training needs an active " +
          "SparkSession; create the session before first use of " +
          "graft_pq_encode/graft_pq_adc/graft_pq_distort or Pq.* operators"))
    val rows = graft.Tables.embeddings(spark, Ivf.trainDir)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(rows.length >= Ks, s"training sample smaller than Ks=$Ks")
    Array.tabulate(M) { j =>
      val off = j * SubDim
      val subs = rows.map { case (_, e) =>
        Array.tabulate(SubDim)(i =>
          if (off + i < e.length) e(off + i).toDouble else 0.0)
      }
      // Deterministic farthest-point seeding (Gonzalez 1985): the first
      // Ks subvectors by vec_id collapse under Lloyd when consecutive
      // vectors are similar; greedy max-min-distance seeds spread the
      // codebook over the subspace's actual extent. Ties break to the
      // earlier (lower-vec_id) point — no RNG anywhere.
      val seeds = new Array[Array[Double]](Ks)
      seeds(0) = subs(0).clone()
      val minD = Array.fill(subs.length)(Double.MaxValue)
      var s = 1
      while (s < Ks) {
        var p = 0
        while (p < subs.length) {
          val last = seeds(s - 1)
          var acc = 0.0
          var i = 0
          while (i < SubDim) {
            val d = subs(p)(i) - last(i); acc += d * d; i += 1
          }
          if (acc < minD(p)) minD(p) = acc
          p += 1
        }
        var best = 0
        var bestD = -1.0
        p = 0
        while (p < subs.length) {
          if (minD(p) > bestD) { bestD = minD(p); best = p }
          p += 1
        }
        seeds(s) = subs(best).clone()
        s += 1
      }
      var cents = seeds
      var it = 0
      while (it < Iters) {
        val sums = Array.fill(Ks)(new Array[Double](SubDim))
        val cnts = new Array[Long](Ks)
        subs.foreach { s =>
          val c = nearest(cents, s)
          cnts(c) += 1
          var i = 0
          while (i < SubDim) { sums(c)(i) += s(i); i += 1 }
        }
        cents = Array.tabulate(Ks) { c =>
          if (cnts(c) > 0) sums(c).map(_ / cnts(c)) else cents(c)
        }
        it += 1
      }
      cents
    }
  }

  /** Argmin centroid driver-side (training only); ties to the lower
    * index, like the codegen kernel and the oracle's ORDER BY dist, c. */
  private def nearest(cents: Array[Array[Double]], s: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var acc = 0.0
      var i = 0
      while (i < cent.length) { val d = s(i) - cent(i); acc += d * d; i += 1 }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  private def spread(df: DataFrame): DataFrame = Ann.spread(df)

  /** Corpus with its PQ codes (one codegen pass, no shuffle). */
  def withCodes(embeddings: DataFrame, embCol: String = "embedding"): DataFrame = {
    spread(embeddings).withColumn("codes", expr(s"graft_pq_encode($embCol)"))
  }

  /** ADC top-k: nearest coded vectors to one stored query by
    * asymmetric PQ distance (micro-units, ascending; ties to the lower
    * vec_id). The whole corpus is scanned IN CODED FORM — the scan a
    * 1000-executor cluster runs over codes it can hold in memory —
    * and only the top-k merge crosses partitions. */
  def adcTopK(spark: SparkSession, embeddings: DataFrame,
              queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    withCodes(embeddings).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        expr("graft_pq_adc(codes, q_emb)").as("adc_micro"))
      .orderBy(col("adc_micro"), col("vec_id"))
      .limit(k)
  }

  /** Broadcast-payload ceiling for the table-precompute variant of
    * [[batchAdcTopK]]: each probe's M×Ks lookup table is M·Ks longs
    * (2 KiB at 16×16), so up to this many probes the table broadcast
    * stays ≤ ~32 MiB — comfortably a broadcast — and the per-pair cost
    * drops from M×SubDim fused multiply-adds to M integer lookups.
    * Past it the fused form keeps the broadcast 8× smaller (floats
    * only). */
  val TableMaxProbes = 16384L

  /** Probe-side broadcast budget in BYTES (r14 verdict #2): a probe
    * row costs ~2 KiB carrying its precomputed ADC table and ~280 B
    * carrying raw floats, so the default 32 MiB admits ~16 k
    * table-probes or ~120 k fused-probes. A million-probe batch is
    * ~280 MB of floats — a driver/executor-memory hazard under the
    * default broadcast limits and far past where a shuffle amortizes —
    * so above the budget the batch paths switch join shape instead of
    * broadcasting (see [[batchAdcTopK]] / [[batchIvfAdcTopK]]).
    * Override per session via [[BroadcastBudgetKey]]. */
  val DefaultBroadcastBudgetBytes: Long = 32L << 20
  val BroadcastBudgetKey = "spark.graft.pq.broadcastBudgetBytes"
  private def broadcastBudget(spark: SparkSession): Long =
    spark.conf.getOption(BroadcastBudgetKey).map(_.toLong)
      .getOrElse(DefaultBroadcastBudgetBytes)
  /** Approximate serialized probe-row payloads: M×Ks longs (+ ids/
    * overhead) for a table row; Dim floats (+ ids/overhead) for raw. */
  private val TableRowBytes: Long = M.toLong * Ks * 8 + 32
  private val FusedRowBytes: Long = Ivf.Dim.toLong * 4 + 32

  /** BATCH ADC top-k — [[adcTopK]] for a probe SET: ADC per
    * (corpus row, probe) pair over the coded corpus, then a per-probe
    * rank keeps the top k. The corpus never shuffles ITS CODES twice
    * and the floats are read only for the probe rows. At 100 TB this
    * is the evaluation/serving fan-in shape: ~3 TB of codes stream
    * through executors against the probe set.
    *
    * Size-adaptive in BOTH the kernel and the join shape
    * (r14 verdict #2, completing the Ivf.batchTopK pattern):
    *
    *  - table-broadcast (≤ ~16 k probes under the default
    *    [[DefaultBroadcastBudgetBytes]]): each probe row carries its
    *    precomputed M×Ks table (`graft_pq_adc_table`, once per probe)
    *    through a broadcast; per pair = M integer lookups
    *    (`graft_pq_adc_lookup`) — the classic PQ scan layout,
    *    bit-identical totals to the fused kernel (PqSpec pins it).
    *  - fused-broadcast (≤ ~120 k probes): raw floats broadcast (8×
    *    smaller rows), per pair = M×SubDim fused multiply-adds.
    *  - bucketed shuffle (beyond): no broadcast anywhere — the corpus
    *    takes a manufactured `pmod(vec_id, B)` bucket (ONE shuffle of
    *    8 B codes + ids), probes replicate onto all B buckets and
    *    shuffle as an equi-join — every (corpus row, probe) pair forms
    *    exactly once because a corpus row lives in one bucket. Probe
    *    replication is why this arm uses the FUSED kernel: floats
    *    replicate B× at 8× fewer bytes than tables, and the kernel gap
    *    (1.25× measured, r14) is small against the shuffle saved. B =
    *    the session's shuffle partitions — the same dial that sizes
    *    every other shuffle at a given deployment. Per-probe top-k
    *    runs as GroupTopK partial heaps either way, so the post-join
    *    shuffle stays ≤ k·probes·partitions winner rows.
    *
    * All three shapes rank identically (PqSpec pins broadcast ≡
    * bucketed on full output). */
  def batchAdcTopK(spark: SparkSession, embeddings: DataFrame,
                   probeMaxId: Long, k: Int): DataFrame = {
    val probes0 = embeddings.filter(col("vec_id") < probeMaxId)
      .select(col("vec_id").as("probe_id"), col("embedding").as("q_emb"))
    batchAdcTopKForProbes(spark, embeddings, probes0, probeMaxId, k)
  }

  /** [[batchAdcTopK]] against an explicit probe frame
    * (`probe_id`, `q_emb`) with `nProbes` as the size estimate driving
    * the shape selection — the entry point for synthesized probe
    * sets, which can exercise the above-budget arm. */
  def batchAdcTopKForProbes(spark: SparkSession, embeddings: DataFrame,
                            probes0: DataFrame, nProbes: Long,
                            k: Int): DataFrame = {
    val budget = broadcastBudget(spark)
    val canBroadcastFused = nProbes * FusedRowBytes <= budget
    val useTable = nProbes * TableRowBytes <= budget
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("adc_micro"), col("nn_id"))
    // the table kernel is picked only when the (bigger) table rows fit
    // the budget, which implies the fused rows do too: the bucketed arm
    // always replicates raw floats, never 2 KiB tables
    val (probes, adc) =
      if (useTable)
        (probes0.select(col("probe_id"),
          expr("graft_pq_adc_table(q_emb)").as("adc_tab")),
          "graft_pq_adc_lookup(codes, adc_tab)")
      else (probes0, "graft_pq_adc(codes, q_emb)")
    val pairs =
      if (canBroadcastFused)
        withCodes(embeddings).crossJoin(broadcast(probes))
      else {
        // above the broadcast budget: bucketed all-pairs equi-join
        val b = spark.sessionState.conf.numShufflePartitions
        val corpusB = withCodes(embeddings)
          .withColumn("pq_bucket", pmod(col("vec_id"), lit(b)).cast("int"))
        val probesB = probes
          .withColumn("pq_bucket", explode(expr(s"sequence(0, ${b - 1})")))
        corpusB.join(probesB, Seq("pq_bucket")).drop("pq_bucket")
      }
    pairs
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("nn_id"),
        expr(adc).as("adc_micro"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("nn_id"), col("adc_micro"))
  }

  /** The persisted code index: (vec_id, codes) — the "encode is a
    * once-per-corpus batch pass" half of the PQ economics. ~8 B of
    * payload per vector instead of 256 B of floats; at 100 TB of
    * embeddings the index is ~3 TB and serves every subsequent query
    * without touching the float corpus. */
  def writeIndex(embeddings: DataFrame, path: String): Unit =
    withCodes(embeddings).select(col("vec_id"), col("codes"))
      .write.mode("overwrite").parquet(path)

  /** ADC top-k against a PERSISTED code index: the corpus is never
    * re-encoded and the floats are never read — only the query row
    * comes from the embedding table. Must rank identically to
    * [[adcTopK]] (PqSpec pins index-probe ≡ live). */
  def probeIndex(spark: SparkSession, index: DataFrame,
                 embeddings: DataFrame, queryVecId: Long,
                 k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    index.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        expr("graft_pq_adc(codes, q_emb)").as("adc_micro"))
      .orderBy(col("adc_micro"), col("vec_id"))
      .limit(k)
  }

  /** ADC shortlist + EXACT re-rank — the production two-phase shape
    * (FAISS's refine step): phase 1 ranks the whole corpus in
    * compressed domain and keeps a k' ≫ k shortlist; phase 2 reads the
    * float corpus ONLY for those k' rows and re-ranks them by exact
    * fused cosine, recovering the accuracy the 32× compression gave up.
    * Structurally the reference's discover-then-fetch two-phase query
    * (`cmd/backup.go:170-178` discovery pass, then `240-248` extraction
    * of only the discovered rows). At 100 TB of embeddings: ~3 TB of
    * codes are scanned; floats are fetched for k' rows via a broadcast
    * join (the k'-row shortlist broadcasts, the float scan prunes to
    * vec_id + embedding — never a second full-corpus ranking). */
  def adcRerankTopK(spark: SparkSession, embeddings: DataFrame,
                    queryVecId: Long, kShort: Int, k: Int): DataFrame = {
    require(kShort >= k, s"shortlist k'=$kShort must be >= k=$k")
    val shortlist = adcTopK(spark, embeddings, queryVecId, kShort)
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    embeddings.join(broadcast(shortlist), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("adc_micro"),
        round(expr("graft_cosine(embedding, q_emb)"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-ADC — the composition production ANN stacks actually run
    * (FAISS's IVFPQ): the IVF codebook bounds WHICH vectors are
    * scanned (the query's NProbe nearest cells, ~NProbe/K of the
    * corpus) and the PQ codes bound WHAT is scanned (8 B of codes per
    * vector instead of 256 B of floats). One codegen pass assigns both
    * cell and codes; the probe set broadcasts; ranking is exact-integer
    * ADC inside the probed cells only. At 100 TB: cell = partition key,
    * codes = the in-memory scan representation, floats stay on disk for
    * an optional re-rank. */
  def ivfAdcTopK(spark: SparkSession, embeddings: DataFrame,
                 queryVecId: Long, k: Int): DataFrame = {
    val assigned = Ivf.withCell(embeddings)
      .withColumn("codes", expr("graft_pq_encode(embedding)"))
    val probes = assigned.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"),
        posexplode(expr("graft_ivf_dists(embedding)")).as(Seq("cell", "dist")))
      .orderBy(col("dist"), col("cell"))
      .limit(Ivf.NProbe)
      .select(col("cell"), col("q_emb"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("cell"),
        expr("graft_pq_adc(codes, q_emb)").as("adc_micro"))
      .orderBy(col("adc_micro"), col("vec_id"))
      .limit(k)
  }

  /** BATCH IVF-ADC — [[ivfAdcTopK]] for a probe SET: the full FAISS
    * IVFPQ serving shape, batched. One codegen pass assigns the corpus
    * its cell AND its codes; each probe broadcasts its NProbe nearest
    * cells WITH its precomputed ADC lookup table (the r14 table
    * kernel), so the per-pair cost inside the probed cells is M
    * integer reads — floats are never read for corpus rows at all.
    * At 100 TB: cell = partition key bounding WHICH ~NProbe/K of the
    * corpus each probe touches, codes = the 8 B/vector in-memory scan
    * representation.
    *
    * Probe-side planning is SIZE-ADAPTIVE on the exploded
    * (probe × NProbe) row count, table payload included (r14 verdict
    * #2, the Ivf.batchTopK escape): within
    * [[DefaultBroadcastBudgetBytes]] the probe rows broadcast; past it
    * the hint is dropped and the same equi-join on `cell` plans as a
    * shuffle join — `cell` is already a real join key here, so unlike
    * [[batchAdcTopK]] no manufactured bucket or replication is needed,
    * the table rows shuffle ONCE, and the table kernel stays (its 2 KiB
    * payload only ever mattered as broadcast fan-out). Ranking is
    * exact-integer ADC — bit-identical to [[ivfAdcTopK]] per probe and
    * across both join shapes (PqSpec pins batch ≡ single-probe and
    * broadcast ≡ shuffle). */
  def batchIvfAdcTopK(spark: SparkSession, embeddings: DataFrame,
                      probeMaxId: Long, k: Int): DataFrame = {
    val probes0 = spread(embeddings).filter(col("vec_id") < probeMaxId)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    batchIvfAdcTopKForProbes(spark, embeddings, probes0, probeMaxId, k)
  }

  /** [[batchIvfAdcTopK]] against an explicit probe frame
    * (`probe_id`, `embedding`) with `nProbes` driving shape selection
    * (the synthesized-probe entry point, like [[batchAdcTopKForProbes]]). */
  def batchIvfAdcTopKForProbes(spark: SparkSession, embeddings: DataFrame,
                               probes0: DataFrame, nProbes: Long,
                               k: Int): DataFrame = {
    val assigned = Ivf.withCell(embeddings)
      .withColumn("codes", expr("graft_pq_encode(embedding)"))
      .select(col("vec_id"), col("cell"), col("codes"))
    val probes = probes0
      .select(col("probe_id"),
        expr("graft_pq_adc_table(embedding)").as("adc_tab"),
        posexplode(expr("graft_ivf_dists(embedding)"))
          .as(Seq("cell", "dist")))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id")).orderBy(col("dist"), col("cell"))))
      .filter(col("rn") <= Ivf.NProbe)
      .select(col("probe_id"), col("cell"), col("adc_tab"))
    val probeSide =
      if (nProbes * Ivf.NProbe * TableRowBytes <= broadcastBudget(spark))
        broadcast(probes)
      else probes
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("adc_micro"), col("nn_id"))
    assigned.join(probeSide, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("nn_id"),
        expr("graft_pq_adc_lookup(codes, adc_tab)").as("adc_micro"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("nn_id"), col("adc_micro"))
  }

  /** Quantizer-quality view: per-subspace corpus distortion (the error
    * vectors incur by being coded — squared-L2 to the chosen centroid,
    * micro-units, exact BIGINT sums). The monitoring signal that says
    * when a codebook needs retraining as the corpus drifts. */
  def distortionBySubspace(embeddings: DataFrame): DataFrame = {
    spread(embeddings)
      .select(posexplode(expr("graft_pq_distort(embedding)"))
        .as(Seq("subspace", "dm")))
      .groupBy(col("subspace"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dm")).as("sum_distortion_micro"),
        max(col("dm")).as("max_distortion_micro"))
  }
}
