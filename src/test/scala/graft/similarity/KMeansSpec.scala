package graft.similarity

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Pins x37's algorithmic contract for the distributed Lloyd's
  * k-means, since the clustering is rows-only at the oracle:
  *   - SSE is monotone non-increasing across iterations (the Lloyd's
  *     invariant — both the assignment and the update step can only
  *     reduce it);
  *   - SSE strictly improves on the seed configuration (the run did
  *     real work);
  *   - training is bitwise deterministic run-to-run (no RNG, ordered
  *     reductions);
  *   - every cell is populated on the fixture (k chosen well below
  *     the corpus's spread).
  */
class KMeansSpec extends SparkTestBase {

  test("lloyd's invariants: monotone SSE, determinism, populated cells") {
    val emb = Tables.embeddings(spark, sf0001)
    val r1 = KMeans.train(emb, k = 4, iters = 4)
    assert(r1.ssePerIter.size == 4)
    r1.ssePerIter.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"SSE increased: ${r1.ssePerIter}")
    }
    assert(r1.ssePerIter.last < r1.ssePerIter.head,
      s"SSE never improved on the seeds: ${r1.ssePerIter}")

    val counts = KMeans.assign(emb, r1.centroids).groupBy(col("cell")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0, 1, 2, 3), s"empty cells: $counts")
    assert(counts.values.sum == emb.count())

    val r2 = KMeans.train(emb, k = 4, iters = 4)
    assert(r2.ssePerIter == r1.ssePerIter, "SSE trace not deterministic")
    assert(r2.centroids.flatten.toSeq == r1.centroids.flatten.toSeq,
      "centroids not deterministic")
  }
}
