package graft.similarity

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class AnnSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_cosine: known geometry") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),   // identical
      (Array(1f, 0f), Array(0f, 1f), 0.0),   // orthogonal
      (Array(1f, 0f), Array(-1f, 0f), -1.0), // opposite
      (Array(3f, 4f), Array(3f, 4f), 1.0)
    ).toDF("a", "b", "expected")
    val got = df.select(expr("graft_cosine(a, b)").as("c"), $"expected")
      .as[(Double, Double)].collect()
    got.foreach { case (c, e) => assert(math.abs(c - e) < 1e-12, s"$c != $e") }
  }

  test("graft_cosine null on zero vector; graft_dot exact") {
    val df = Seq((Array(0f, 0f), Array(1f, 2f))).toDF("a", "b")
    assert(df.select(expr("graft_cosine(a, b)")).collect().head.isNullAt(0))
    val dot = Seq((Array(1.5f, 2f), Array(2f, 3f))).toDF("a", "b")
      .select(expr("graft_dot(a, b)")).as[Double].collect().head
    assert(math.abs(dot - 9.0) < 1e-12)
  }

  test("hyperplane signature kernel matches driver-side reference; no HOF in plan") {
    val signed = Ann.withSignature(Tables.embeddings(spark, sf0001))
    // the compiled kernel replaced the interpreted aggregate(zip_with())
    // HOFs — neither should appear anywhere in the physical plan
    val plan = signed.queryExecution.executedPlan.toString
    assert(!plan.contains("zip_with") && !plan.contains("aggregate("),
      "interpreted HOF survived in the ANN signature plan")
    val rows = signed.select($"vec_id", $"embedding", $"bucket")
      .as[(Long, Array[Float], Int)].collect()
    assert(rows.nonEmpty)
    rows.take(200).foreach { case (id, emb, bucket) =>
      var expected = 0
      for (p <- 0 until Ann.NPlanes) {
        val plane = Ann.planeMatrix(p)
        var acc = 0.0
        var i = 0
        val n = math.min(plane.length, emb.length)
        while (i < n) { acc += plane(i) * emb(i).toDouble; i += 1 }
        if (acc > 0) expected |= 1 << p
      }
      assert(bucket == expected, s"vec $id: kernel $bucket != reference $expected")
    }
  }

  test("quantizeStats: known scale, half-up tie, zero-vector degenerate") {
    // maxAbs 127 -> scale 1.0; 63.5 rounds half-UP to 64 -> err 0.5
    val stats = Seq(Tuple1(Array(127f, -127f, 63.5f, 0f)))
      .toDF("embedding")
      .select(expr("graft_quantize_stats(embedding)").as("qs"))
      .as[Seq[Double]].collect().head
    assert(stats(0) == 1.0)          // scale
    assert(stats(1) == 0.5)          // max_abs_err (the 63.5 tie)
    assert(stats(2) == 0.125)        // mean over 4 elements
    val zero = Seq(Tuple1(Array(0f, 0f)))
      .toDF("embedding")
      .select(expr("graft_quantize_stats(embedding)").as("qs"))
      .as[Seq[Double]].collect().head
    assert(zero == Seq(0.0, 0.0, 0.0))
  }

  test("bruteForceTopK returns k descending, query excluded") {
    val top = Ann.bruteForceTopK(spark,
      Tables.embeddings(spark, sf0001), queryVecId = 0, k = 10)
      .as[(Long, Double)].collect()
    assert(top.length == 10)
    assert(!top.exists(_._1 == 0L))
    assert(top.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("dupPairs: banded candidates only, exact cosine, ordered deduped ids") {
    val emb = Tables.embeddings(spark, sf0001)
    val pairs = Ann.dupPairs(emb, minCosine = 0.25)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, c) => a < b && c >= 0.25 })
    // a pair colliding in several bands must still appear exactly once
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length)
    // every pair shares at least one band bucket (the candidate contract)
    val sigs = emb.withColumn("bks",
      expr(s"graft_banded_sig(embedding, ${Ann.DupBands}, ${Ann.DupBandBits})"))
      .select($"vec_id", $"bks").as[(Long, Seq[Int])].collect().toMap
    pairs.foreach { case (a, b, _) =>
      assert(sigs(a).lazyZip(sigs(b)).exists(_ == _),
        s"pair ($a,$b) shares no band bucket") }
    // and each reported cosine equals the exact brute-force value
    val sample = pairs.take(5)
    sample.foreach { case (a, b, c) =>
      val exact = Ann.bruteForceTopK(spark, emb, a, 1000)
        .as[(Long, Double)].collect().toMap
      assert(math.abs(exact(b) - c) < 1e-9)
    }
  }

  test("dupPairs: occupancy bound binds BEFORE collection (rank cap)") {
    // 40 identical vectors land in one bucket per band; with cap=8 only
    // the 8 lowest vec_ids stay candidates -> exactly C(8,2)=28 pairs,
    // and the collected member lists can never exceed the cap (the r4
    // scale-killer was an uncapped collect_list at n/16 per bucket).
    val emb = (0L until 40L).map(i => (i, Array.fill(Ann.Dim)(1f)))
      .toDF("vec_id", "embedding")
    val pairs = Ann.dupPairs(emb, minCosine = 0.9, cap = 8)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 28, s"got ${pairs.length} pairs")
    assert(pairs.forall { case (a, b, _) => a < 8 && b < 8 })
  }

  test("dupPairs bucket-key space exceeds the old fixed 16-bucket geometry") {
    val keys = Tables.embeddings(spark, sf0001)
      .withColumn("bks",
        expr(s"graft_banded_sig(embedding, ${Ann.DupBands}, ${Ann.DupBandBits})"))
      .select(posexplode($"bks")).distinct().count()
    assert(keys > 16, s"only $keys distinct (band,bucket) keys observed")
    // kernel/driver parity: band 0 of the banded signature must equal
    // the 4-plane single signature (same plane family, same order)
    val both = Tables.embeddings(spark, sf0001).limit(50)
      .withColumn("bks", expr(s"graft_banded_sig(embedding, 1, ${Ann.NPlanes})"))
      .withColumn("sig", expr("graft_hyperplane_sig(embedding)"))
      .select($"bks".getItem(0), $"sig").as[(Int, Int)].collect()
    both.foreach { case (b, s) => assert(b == s) }
  }

  test("lshTopK results are a subset ranking consistent with brute force bucket") {
    val ann = Ann.lshTopK(spark,
      Tables.embeddings(spark, sf0001), queryVecId = 0, k = 10)
      .as[(Long, Double)].collect()
    assert(ann.nonEmpty)
    assert(ann.map(_._2).sliding(2).forall(p => p.head >= p.last))
    // every ANN hit's score matches the exact cosine (same expression)
    val exact = Ann.bruteForceTopK(spark,
      Tables.embeddings(spark, sf0001), 0, 1000)
      .as[(Long, Double)].collect().toMap
    ann.foreach { case (id, c) => assert(math.abs(exact(id) - c) < 1e-9) }
  }
}
