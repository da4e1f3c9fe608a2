package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, per the build rules:
  *  - brute-force cosine top-k — the exact baseline: broadcast the query
  *    vector, one fused-loop cosine per row ([[graft.functions.CosineSimF]],
  *    a codegen'd Catalyst expression), then `TakeOrderedAndProject`;
  *  - LSH-bucketed ANN — the scale path: random-hyperplane signatures
  *    (Rademacher ±1 components derived from the md5 hash family, so the
  *    DuckDB oracle reproduces them), candidates restricted to the
  *    query's bucket. At 100 TB the bucketing turns an all-pairs scan
  *    into a bucket-local scan; recall is tuned by plane count.
  */
object Ann {

  /** Hyperplane count → 2^NPlanes buckets (single-bucket signature used
    * by [[lshTopK]]/bucket stats). */
  val NPlanes = 4
  val Dim = 64
  val PlaneSeed = 777

  /** Banded geometry for [[dupPairs]]: bands × bandBits planes. 4×4 by
    * default (64-key space, ~4× the recall of one 4-bit bucket at equal
    * per-band occupancy); at larger corpus scale raise `bandBits` so
    * buckets shrink with 2^bits and add bands to recover recall — the
    * knobs a fixed 2^NPlanes space doesn't have. */
  val DupBands = 4
  val DupBandBits = 4

  /** ±1 Rademacher plane components, derived from the md5 hash family
    * (`parity of hash60("777|p_d")`) — computed ONCE driver-side and
    * embedded as literals. The DuckDB oracle derives the same values
    * with md5 in SQL; evaluating md5 per (plane, dim) per ROW in the
    * Spark plan (256 md5/row) was pure waste — the components are
    * row-independent.
    */
  lazy val planeComponents: IndexedSeq[IndexedSeq[Double]] =
    planeRows(NPlanes)

  private def planeRows(n: Int): IndexedSeq[IndexedSeq[Double]] =
    (0 until n).map { p =>
      (0 until Dim).map { d =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"$PlaneSeed|${p}_$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        if (java.lang.Long.parseLong(hex, 16) % 2 == 1) 1.0 else -1.0
      }
    }

  /** Plane matrix as primitive arrays for the codegen kernel. */
  lazy val planeMatrix: Array[Array[Double]] =
    planeComponents.map(_.toArray).toArray

  /** Plane matrices for the banded signature, any plane count — same
    * md5-derived family as [[planeComponents]] (plane p is identical
    * regardless of how many planes a caller asks for), cached per count
    * since the matrix rides into codegen as a reference object. */
  private val bandedCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
  def bandedPlaneMatrix(n: Int): Array[Array[Double]] =
    bandedCache.computeIfAbsent(n, k => planeRows(k).map(_.toArray).toArray)

  /** One small parquet file → one input partition; spread before the
    * CPU-heavy signature/cosine stages so all cores participate.
    * `private[similarity]`: [[Ivf]] and [[Pq]] share the same policy —
    * one definition, one place to change it. */
  private[similarity] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** LSH bucket (0..2^NPlanes-1): sign bits of the plane dot products,
    * via the fused codegen kernel ([[graft.functions.HyperplaneSigExpr]]
    * — the HOF `aggregate(zip_with(...))` version was CodegenFallback,
    * i.e. interpreted per element per plane). Dot accumulation is in
    * element order, so the DuckDB oracle is bit-identical. */
  def withSignature(embeddings: DataFrame, embCol: String = "embedding"): DataFrame = {
    spread(embeddings)
      .withColumn("bucket", expr(s"graft_hyperplane_sig($embCol)"))
  }

  /** Exact brute-force top-k neighbours of one stored vector. */
  def bruteForceTopK(spark: SparkSession, embeddings: DataFrame,
                     queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    spread(embeddings).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        round(expr("graft_cosine(embedding, q_emb)"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** ANN top-k: candidates share the query's hyperplane bucket. */
  def lshTopK(spark: SparkSession, embeddings: DataFrame,
              queryVecId: Long, k: Int): DataFrame = {
    val signed = withSignature(embeddings)
    val q = signed.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"))
    signed.join(broadcast(q), col("bucket") === col("q_bucket"))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        round(expr("graft_cosine(embedding, q_emb)"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate PAIRS — the dedup application of
    * the LSH path (the vector analogue of
    * [[graft.dedup.Dedup.lshCandidatePairs]]): vectors sharing any LSH
    * band bucket are candidates, exact fused-kernel cosine keeps pairs
    * at or above `minCosine`.
    *
    * Scale geometry (round-4 fix — the old shape was a single 2^4=16
    * bucket space whose uncapped `collect_list` materialized ~n/16
    * vectors per row): the signature is BANDED like MinHash LSH —
    * `bands` buckets of `bandBits` sign bits each, so the key space is
    * `bands·2^bandBits` and both knobs scale with the corpus (more bits
    * → smaller buckets; more bands → recovered recall). The occupancy
    * bound now binds BEFORE collection: a rank window keeps only the
    * first `cap` members per (band, bucket), so the collected member
    * list is ≤ cap entries regardless of bucket occupancy — no 2 GB
    * array / task OOM at any corpus size (members beyond the cap lose
    * candidacy in that band; dense regions degrade gracefully instead
    * of OOMing). The window and the groupBy share the (band, bucket)
    * key, so the plan still has ONE shuffle before the pair explode.
    * A pair colliding in several bands is deduped after the threshold
    * filter (cos_sim is deterministic, so distinct sees equal rows).
    * The DuckDB oracle mirrors bands, rank cap and dedup exactly. */
  // r16 opt note: a decide-then-attach rewrite (id-only buckets,
  // candidate-scale DISTINCT, embeddings re-joined per distinct pair)
  // was built, measured and REVERTED. It won at sf0.1 (task cpu 17.8
  // -> 10.2 s) because the fixture's duplicated vectors are exact
  // twins that share all `bands` buckets (~4x cosine redundancy), but
  // on the decorrelated sf1 corpus the real redundancy is only ~1.3x
  // (33M co-occurrences vs ~25M distinct pairs), so the rewrite
  // replaced a 1.3x-redundant parallel verify with a candidate-scale
  // hash distinct + two attach joins: 3.4 -> 9.7 s at sf1 (and a
  // forced shuffle-hash variant measured 50-76 s). The original shape
  // below dedups AFTER the threshold filter, where the set is
  // output-scale - the right order at every measured scale.
  def dupPairs(embeddings: DataFrame, minCosine: Double,
               bands: Int = DupBands, bandBits: Int = DupBandBits,
               cap: Int = graft.dedup.Dedup.MaxBucketOccupancy): DataFrame = {
    val perBand = spread(embeddings)
      .withColumn("bks", expr(s"graft_banded_sig(embedding, $bands, $bandBits)"))
      .select(col("vec_id"), col("embedding"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("vec_id"))
    perBand
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
        .as("members"))
      .filter(size(col("members")) >= 2)
      // explicit barrier: bucket rows are few but each pair costs a
      // 64-dim cosine — don't let AQE serialize the expansion
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
      // the rank filter already bounds members ≤ cap, so graft_pairs'
      // star degradation can never trigger here — full pairs always
      .select(explode(expr(s"graft_pairs(members, $cap)")).as("p"))
      .select(col("p.l.vec_id").as("vec_a"), col("p.r.vec_id").as("vec_b"),
        round(expr("graft_cosine(p.l.embedding, p.r.embedding)"), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
      .distinct()
  }

  /** Exact nearest neighbour for each of a (small) probe set of vectors:
    * broadcast the probes, fused-loop dot product against the full
    * corpus, rank per probe. Norms are precomputed ONCE per row on each
    * side (all fixture vectors share Dim, so the full-length norm
    * equals CosineSimF's min-length norm and `dot/(√na·√nb)` is
    * bit-identical) — the probes×corpus inner loop then does one dot
    * instead of dot+two norms, ~3× less arithmetic on the suite's
    * second-largest CPU stage. Zero-norm rows stay null like
    * [[graft.functions.CosineSimF]]. */
  def nearestNeighbors(spark: SparkSession, embeddings: DataFrame,
                       probeMaxId: Long, k: Int = 1): DataFrame = {
    val probes = embeddings.filter(col("vec_id") < probeMaxId)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        sqrt(expr("graft_dot(embedding, embedding)")).as("p_norm"))
    val scored = spread(embeddings)
      .withColumn("norm", sqrt(expr("graft_dot(embedding, embedding)")))
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("nn_id"),
        round(
          when(col("norm") === 0.0 || col("p_norm") === 0.0, lit(null))
            .otherwise(
              expr("graft_dot(embedding, p_emb)") / (col("norm") * col("p_norm"))),
          6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("nn_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("nn_id"), col("cos_sim"))
  }

  /** Exact squared-L2 top-k per probe — the ground truth the PQ/ADC
    * tier approximates (ADC is an L2-distance estimate, so its recall
    * must be measured against exact L2 neighbors, not cosine ones).
    * Same broadcast-probes shape as [[nearestNeighbors]], with the
    * dot-product identity |e-q|² = e·e + q·q − 2·e·q so the inner
    * loop is ONE compiled dot per pair (norms precomputed per row);
    * rounded to 6dp with an id tie-break so the rank SETS are
    * engine-independent (the x09 discipline). */
  def nearestNeighborsL2(spark: SparkSession, embeddings: DataFrame,
                         probeMaxId: Long, k: Int): DataFrame = {
    val probes = embeddings.filter(col("vec_id") < probeMaxId)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        expr("graft_dot(embedding, embedding)").as("p_n2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("dist2"), col("nn_id"))
    spread(embeddings)
      .withColumn("n2", expr("graft_dot(embedding, embedding)"))
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("nn_id"),
        round(col("n2") + col("p_n2") -
          lit(2.0) * expr("graft_dot(embedding, p_emb)"), 6).as("dist2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("nn_id"), col("dist2"))
  }
}
