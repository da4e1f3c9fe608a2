package graft.similarity

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Pins the scaled-codebook (K ∝ N) contract behind
  * `spark.graft.ivf.targetCellSize` — the r15-verdict item: the decade
  * harness must be able to exercise the documented IVF sizing instead
  * of the frozen fixture K=16.
  *
  *   - SEMANTICS: with one cell (target ≥ N) the scaled [[Ivf.semDedup]]
  *     equals the brute-force all-pairs definition exactly — the cell
  *     partition only restricts WHICH pairs are compared, never how;
  *   - OCCUPANCY: the product cells are sized K ≈ N/t and no cell is
  *     pathologically overloaded (the bound that keeps the pair
  *     fan-out Σ cell² linear in N);
  *   - DETERMINISM: retraining from a cold cache is bit-identical (no
  *     RNG anywhere in the sample pick, seeds, or Lloyd's);
  *   - DEFAULT: with the conf unset nothing changes — the fixture
  *     literals keep oracle parity (the x39/x18/x66 gate at sf0.01
  *     runs conf-less and stays hash-green).
  */
class IvfScaledSpec extends SparkTestBase {

  private def withTarget[A](t: Long)(body: => A): A = {
    spark.conf.set(Ivf.TargetCellSizeKey, t.toString)
    try body finally spark.conf.unset(Ivf.TargetCellSizeKey)
  }

  test("one-cell scaled semDedup equals the brute-force all-pairs " +
    "definition") {
    val emb = Tables.embeddings(spark, sf0001)
    val minCos = 0.3 // the x39 threshold; fixture max cosine is ~0.48
    val scaled = withTarget(1000000L) {
      Ivf.semDedup(emb, minCos)
        .select(col("vec_id"), col("max_cos"), col("n_close"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet
    }
    val x = emb.select(col("vec_id").as("x_id"),
      col("embedding").as("x_emb"))
    val y = emb.select(col("vec_id"), col("embedding").as("y_emb"))
    val brute = x.crossJoin(y).filter(col("x_id") < col("vec_id"))
      .select(col("vec_id"),
        round(expr("graft_cosine(x_emb, y_emb)"), 6).as("c"))
      .filter(col("c") >= minCos)
      .groupBy(col("vec_id"))
      .agg(max(col("c")).as("max_cos"), count(lit(1)).as("n_close"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSet
    assert(brute.nonEmpty, "fixture has no close pairs at the threshold — " +
      "the equivalence test would be vacuous")
    assert(scaled == brute,
      s"one-cell scaled semDedup diverged from brute force: " +
        s"only-scaled=${(scaled -- brute).take(5)} " +
        s"only-brute=${(brute -- scaled).take(5)}")
  }

  test("scaled cells are sized K ~ N/t with bounded occupancy") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val n = emb.count() // 2000 on the sf0.1 fixture
    val t = 50L
    val stats = withTarget(t) {
      Ivf.cellStats(emb).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    val k = ((n + t - 1) / t).toInt
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = math.ceil(k.toDouble / k1).toInt
    assert(stats.keys.forall(c => c >= 0 && c < k1 * k2),
      s"cell id outside [0, ${k1 * k2}): ${stats.keys.max}")
    assert(stats.values.sum == n)
    // the product partition must actually spread the corpus: most of
    // the K cells populated, and no cell grabbing a pathological share
    assert(stats.size >= k / 2,
      s"only ${stats.size} of ~$k cells populated")
    val maxOcc = stats.values.max
    assert(maxOcc <= 8 * t,
      s"max occupancy $maxOcc > ${8 * t} (t=$t): pair fan-out would " +
        s"not be bounded by the target")
  }

  test("scaled codebook training is deterministic from a cold cache") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val n = emb.count()
    Ivf.clearScaledCache()
    val cb1 = Ivf.scaledCodebook(emb, n, 50L)
    Ivf.clearScaledCache()
    val cb2 = Ivf.scaledCodebook(emb, n, 50L)
    assert(cb1.a.flatten.toSeq == cb2.a.flatten.toSeq &&
      cb1.b.flatten.toSeq == cb2.b.flatten.toSeq,
      "scaled codebook not deterministic across retrains")
    assert(cb1.k >= ((n + 49) / 50).toInt, s"k=${cb1.k} below N/t")
  }

  test("scaled semDedupRecall keeps the truth side intact and only " +
    "re-buckets the approx side") {
    val emb = Tables.embeddings(spark, sf0001)
    val fixture = Ivf.semDedupRecall(spark, emb, probeMaxId = 20,
      minCosine = 0.7).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val scaled = withTarget(25L) {
      Ivf.semDedupRecall(spark, emb, probeMaxId = 20, minCosine = 0.7)
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    // n_truth per band is cell-independent; n_cell_hits never exceeds it
    assert(scaled.keySet == fixture.keySet)
    scaled.foreach { case (band, (truth, hits)) =>
      assert(truth == fixture(band)._1,
        s"band $band truth changed with the codebook: " +
          s"$truth vs ${fixture(band)._1}")
      assert(hits >= 0 && hits <= truth)
    }
  }
}
