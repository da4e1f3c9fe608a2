package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import graft.functions.{IvfCellExpr, IvfDistsExpr}

/** Fully-distributed Lloyd's k-means over the embedding corpus — the
  * cluster-scale complement to [[Ivf]]'s driver-side sampled codebook
  * (which trains on 500 rows and is the right call for a codebook; a
  * CURATION clustering — dedup groups, topic buckets, outlier cells —
  * must see every vector).
  *
  * Per iteration, ONE distributed job:
  *   - assignment is the codegen'd argmin kernel ([[IvfCellExpr]])
  *     built over the current centroids as a column (no function is
  *     registered, so the session is left as it was);
  *   - the update shuffles only partial aggregates: posexplode expands
  *     n·d rows but the hash aggregate's map-side combine reduces the
  *     shuffle to partitions × k × d rows, and the driver collects
  *     exactly k·d (sum, count) cells — bounded at any corpus size;
  *   - SSE rides the same aggregate (each row's squared distance is
  *     replicated across its d exploded rows; the pos=0 slice is the
  *     per-cell SSE), so convergence tracking costs no extra job.
  *
  * Determinism: seeds are the k vectors with the smallest
  * (hash(vec_id) mod 1009, vec_id) — spread-ish, reproducible, no RNG;
  * ties in assignment break to the lower cell index (kernel contract);
  * empty cells keep their previous centroid. Float sums accumulate in
  * element order within the aggregate — double-precision parity with
  * the same reduction run twice, which KMeansSpec pins.
  */
object KMeans {

  final case class Result(
      centroids: Array[Array[Double]],
      ssePerIter: Seq[Double])

  private def embedding = UnresolvedAttribute.quoted("embedding")
  private def cellOf(cents: Array[Array[Double]]): Column =
    GraftPlanBridge.column(IvfCellExpr(embedding, cents))
  private def distsOf(cents: Array[Array[Double]]): Column =
    GraftPlanBridge.column(IvfDistsExpr(embedding, cents))

  /** Deterministic spread seeds: k rows minimizing
    * (hash(vec_id) mod 1009, vec_id). Collect is k rows — bounded. */
  private def seeds(embeddings: DataFrame, k: Int): Array[Array[Double]] =
    embeddings.select(col("vec_id"), col("embedding"))
      .orderBy(pmod(hash(col("vec_id")), lit(1009)), col("vec_id"))
      .limit(k).collect()
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))

  def train(embeddings: DataFrame, k: Int, iters: Int): Result = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    var cents = seeds(embeddings, k)
    require(cents.length == k, s"corpus smaller than k=$k")
    val dim = cents(0).length
    val sses = Seq.newBuilder[Double]
    var it = 0
    while (it < iters) {
      val rows = embeddings
        .withColumn("cell", cellOf(cents))
        .withColumn("d2", element_at(distsOf(cents), col("cell") + 1))
        .select(col("cell"), col("d2"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("v").cast("double")).as("s"),
          count(lit(1)).as("n"),
          sum(col("d2")).as("d2sum"))
        .collect() // bounded: ≤ k·d rows
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var sse = 0.0
      rows.foreach { r =>
        val c = r.getInt(0); val p = r.getInt(1)
        sums(c)(p) = r.getDouble(2)
        if (p == 0) { counts(c) = r.getLong(3); sse += r.getDouble(4) }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else cents(c)
      }
      sses += sse
      it += 1
    }
    Result(cents, sses.result())
  }

  /** Corpus with its cell under `centroids` (e.g. [[train]]'s result). */
  def assign(embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    embeddings.withColumn("cell", cellOf(centroids))

  /** Reference-model geometry (the x37 contract). */
  val ModelK = 8
  val ModelIters = 3

  /** FINAL centroids of the reference clustering: the distributed
    * Lloyd's above, run on the FIXED training fixture ([[Ivf.trainDir]]
    * — same source the IVF/PQ codebooks train on), so the centroid
    * doubles are deterministic per deployment and can be embedded as
    * LITERALS in the DuckDB oracle (the duckPqCents pattern). Computed
    * once per JVM; training is still the distributed path — the spec
    * pins its invariants — while assignment of the QUERY corpus scales
    * with that corpus alone. */
  lazy val referenceCentroids: Array[Array[Double]] = {
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "KMeans reference-model training needs an active SparkSession"))
    train(graft.Tables.embeddings(spark, Ivf.trainDir),
      ModelK, ModelIters).centroids
  }
}
