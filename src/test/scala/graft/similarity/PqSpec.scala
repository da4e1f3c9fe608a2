package graft.similarity

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Product-quantization contract: deterministic codebooks, kernel ==
  * driver-side reference arithmetic, exact-integer ADC totals, and a
  * recall floor against the brute-force oracle (PQ is an approximation
  * — the spec quantifies how good it has to stay, the RecallSpec
  * discipline). */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  test("codebooks are deterministic and well-formed") {
    spark.version: Unit // force the session so lazy training finds it
    val b = Pq.codebooks
    assert(b.length == Pq.M)
    assert(b.forall(_.length == Pq.Ks))
    assert(b.forall(_.forall(_.length == Pq.SubDim)))
    // distinct centroids within every subspace (Lloyd from distinct
    // seeds on real data)
    b.foreach(book => assert(book.map(_.toSeq).distinct.length == Pq.Ks))
  }

  test("encode kernel matches the driver-side argmin per subspace") {
    val rows = Pq.withCodes(Tables.embeddings(spark, sf0001))
      .select($"vec_id", $"embedding", $"codes")
      .as[(Long, Array[Float], Array[Int])].collect()
    assert(rows.nonEmpty)
    rows.take(100).foreach { case (id, emb, codes) =>
      assert(codes.length == Pq.M)
      for (j <- 0 until Pq.M) {
        var best = 0
        var bestD = Double.MaxValue
        for (c <- 0 until Pq.Ks) {
          val cent = Pq.codebooks(j)(c)
          var acc = 0.0
          for (i <- 0 until Pq.SubDim) {
            val d = emb(j * Pq.SubDim + i).toDouble - cent(i)
            acc += d * d
          }
          if (acc < bestD) { bestD = acc; best = c }
        }
        assert(codes(j) == best,
          s"vec $id subspace $j: kernel ${codes(j)} != reference $best")
      }
    }
  }

  test("ADC totals are exact micro-unit sums and deterministic") {
    val emb = Tables.embeddings(spark, sf0001)
    val a = Pq.adcTopK(spark, emb, 0, 10).as[(Long, Long)].collect()
    val b = Pq.adcTopK(spark, emb, 0, 10).as[(Long, Long)].collect()
    assert(a.sameElements(b), "ADC top-k must be bitwise deterministic")
    assert(a.length == 10)
    // ascending distance, ties to the lower id
    assert(a.map(_._2).sliding(2).forall(p => p.head <= p.last))
    // reference recomputation: code picks + per-subspace micro rounding
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .as[Array[Float]].head()
    val coded = Pq.withCodes(emb).select($"vec_id", $"codes")
      .as[(Long, Array[Int])].collect().toMap
    a.foreach { case (id, micro) =>
      var total = 0L
      for (j <- 0 until Pq.M) {
        val cent = Pq.codebooks(j)(coded(id)(j))
        var acc = 0.0
        for (i <- 0 until Pq.SubDim) {
          val d = q(j * Pq.SubDim + i).toDouble - cent(i)
          acc += d * d
        }
        total += Math.round(acc * 1e6)
      }
      assert(total == micro, s"vec $id: ADC $micro != reference $total")
    }
  }

  test("table-precompute ADC is bit-identical to the fused form over " +
    "FULL per-probe rankings, and the table kernel matches first " +
    "principles") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count().toInt
    // full rankings (k = corpus) so any per-pair total diverging —
    // not just a top-k boundary — fails the parity
    def run(flag: String) = {
      // batchAdcTopK reads the env at call time; tests can't set env,
      // so exercise both variants through their expression forms
      val probes0 = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("probe_id"), $"embedding".as("q_emb"))
      val (probes, adc) =
        if (flag == "table")
          (probes0.select($"probe_id",
            expr("graft_pq_adc_table(q_emb)").as("adc_tab")),
            "graft_pq_adc_lookup(codes, adc_tab)")
        else (probes0, "graft_pq_adc(codes, q_emb)")
      Pq.withCodes(emb).crossJoin(broadcast(probes))
        .filter($"vec_id" =!= $"probe_id")
        .select($"probe_id", $"vec_id".as("nn_id"), expr(adc).as("adc_micro"))
        .orderBy($"probe_id", $"nn_id")
        .as[(Long, Long, Long)].collect().toSeq
    }
    val fused = run("fused")
    val table = run("table")
    assert(fused.length == 10 * (n - 1))
    assert(table == fused, "table ADC diverged from fused ADC")

    // the table itself equals first-principles L2² micro rounding
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .as[Array[Float]].head()
    val tab = emb.filter($"vec_id" === 0)
      .select(expr("graft_pq_adc_table(embedding)"))
      .as[Array[Long]].head()
    assert(tab.length == Pq.M * Pq.Ks)
    for (j <- 0 until Pq.M; c <- 0 until Pq.Ks) {
      val cent = Pq.codebooks(j)(c)
      var acc = 0.0
      for (i <- 0 until Pq.SubDim) {
        val d = q(j * Pq.SubDim + i).toDouble - cent(i)
        acc += d * d
      }
      assert(tab(j * Pq.Ks + c) == Math.round(acc * 1e6),
        s"table[$j,$c] diverges from first principles")
    }
  }

  test("batchAdcTopK auto-selects the table variant under the probe " +
    "ceiling and ranks identically either way") {
    val emb = Tables.embeddings(spark, sf0001)
    // default path (50 < TableMaxProbes → table) — the x62 shape
    val viaDefault = Pq.batchAdcTopK(spark, emb, probeMaxId = 50, k = 10)
    val plan = viaDefault.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_pq_adc_lookup") ||
      plan.contains("pqadclookup") || plan.contains("PqAdcLookup"),
      s"expected the lookup kernel in the default plan:\n$plan")
    // the resolved expression prints LOWERCASE ("pqadcexpr(...)") in
    // the optimized plan — match case-insensitively or the negative
    // half of this test is vacuous
    val lower = plan.toLowerCase
    assert(!lower.contains("graft_pq_adc(") && !lower.contains("pqadcexpr"),
      "fused kernel present despite table selection")
  }

  test("batchAdcTopK above the broadcast budget: bucketed all-pairs " +
    "equi-join, no probe broadcast, identical ranking") {
    val emb = Tables.embeddings(spark, sf0001)
    val broadcastArm = Pq.batchAdcTopK(spark, emb, probeMaxId = 20, k = 5)
    val got = broadcastArm.as[(Long, Long, Long)].collect().toSet
    assert(got.nonEmpty)
    // force the above-budget arm: 1-byte budget admits nothing
    spark.conf.set(Pq.BroadcastBudgetKey, "1")
    try {
      val bucketed = Pq.batchAdcTopK(spark, emb, probeMaxId = 20, k = 5)
      val plan = bucketed.queryExecution.optimizedPlan.toString
      assert(plan.contains("pq_bucket"),
        s"above-budget arm did not bucket the corpus:\n$plan")
      assert(!plan.toLowerCase.contains("pqadclookup"),
        "bucketed arm must use the fused kernel (replication carries " +
          "floats, not 2 KiB tables)")
      // a corpus row lives in ONE bucket → every pair forms exactly
      // once → full output identical to the broadcast shape
      assert(bucketed.as[(Long, Long, Long)].collect().toSet == got,
        "bucketed shape diverged from the broadcast shape")
    } finally spark.conf.unset(Pq.BroadcastBudgetKey)
  }

  test("batchIvfAdcTopK above the broadcast budget drops the hint, " +
    "keeps the table kernel, ranks identically") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = Pq.batchIvfAdcTopK(spark, emb, probeMaxId = 20, k = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.nonEmpty)
    spark.conf.set(Pq.BroadcastBudgetKey, "1")
    try {
      val shuffled = Pq.batchIvfAdcTopK(spark, emb, probeMaxId = 20, k = 5)
      val plan = shuffled.queryExecution.optimizedPlan.toString
      // cell is a real equi-key: the escape is just dropping the
      // broadcast hint (the table kernel stays — its payload only
      // mattered as broadcast fan-out)
      assert(!plan.contains("UnresolvedHint") &&
        !plan.contains("ResolvedHint"),
        s"broadcast hint survived above the budget:\n$plan")
      assert(plan.toLowerCase.contains("pqadclookup"),
        "table kernel lost in the shuffle arm")
      assert(shuffled.as[(Long, Long, Long)].collect().toSet == got,
        "shuffle shape diverged from the broadcast shape")
    } finally spark.conf.unset(Pq.BroadcastBudgetKey)
  }

  test("ADC top-10 recalls a real fraction of the exact L2 top-10") {
    val emb = Tables.embeddings(spark, sf0001)
    val adc = Pq.adcTopK(spark, emb, 0, 10).as[(Long, Long)].collect()
      .map(_._1).toSet
    // exact squared-L2 ranking — the metric ADC approximates
    val all = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    val q = all.find(_._1 == 0L).get._2
    val exact = all.filter(_._1 != 0L).map { case (id, e) =>
      var acc = 0.0
      for (i <- 0 until math.min(q.length, e.length)) {
        val d = q(i).toDouble - e(i).toDouble; acc += d * d
      }
      (id, acc)
    }.sortBy(r => (r._2, r._1)).take(10).map(_._1).toSet
    // 16 centroids per 4-dim subspace is a coarse quantizer, so demand
    // overlap, not identity — 4/10 is far above chance (10/499) and
    // fails if the quantizer degrades to noise.
    val recall = (adc & exact).size
    assert(recall >= 4, s"ADC∩exactL2 = $recall of 10, quantizer degraded")
  }

  test("ADC+re-rank equals exact cosine over the shortlist, and its " +
    "recall of the true cosine top-10 beats ADC-only") {
    val emb = Tables.embeddings(spark, sf0001)
    val kShort = 50
    val rerank = Pq.adcRerankTopK(spark, emb, 0, kShort, 10)
      .as[(Long, Long, Double)].collect()

    // ground truth A: exact cosine over exactly the ADC shortlist,
    // computed driver-side — the re-rank phase must reproduce it
    val shortIds = Pq.adcTopK(spark, emb, 0, kShort)
      .as[(Long, Long)].collect().map(_._1).toSet
    val all = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    val q = all.find(_._1 == 0L).get._2
    def cos(e: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until math.min(q.length, e.length)) {
        dot += q(i).toDouble * e(i).toDouble
        na += q(i).toDouble * q(i).toDouble
        nb += e(i).toDouble * e(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCos = all.filter(r => shortIds.contains(r._1))
      .map { case (id, e) =>
        (id, BigDecimal(cos(e)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }
      .sortBy(r => (-r._2, r._1)).take(10)
    assert(rerank.map(r => (r._1, r._3)).toSeq == byCos.toSeq,
      "re-rank phase is not exact cosine over the ADC shortlist")

    // ground truth B: recall uplift — the whole point of the refine
    // tier. Exact cosine top-10 over the full corpus vs the two tiers.
    val exactTop = all.filter(_._1 != 0L)
      .map { case (id, e) => (id, cos(e)) }
      .sortBy(r => (-r._2, r._1)).take(10).map(_._1).toSet
    val adcOnly = Pq.adcTopK(spark, emb, 0, 10)
      .as[(Long, Long)].collect().map(_._1).toSet
    val rAdc = (adcOnly & exactTop).size
    val rRerank = (rerank.map(_._1).toSet & exactTop).size
    assert(rRerank >= rAdc,
      s"re-rank recall $rRerank fell below ADC-only $rAdc")
    assert(rRerank >= 7,
      s"re-rank recalled only $rRerank of the exact cosine top-10")
  }

  test("batch IVF-ADC equals the single-probe IVF-ADC per probe") {
    val emb = Tables.embeddings(spark, sf0001)
    val batch = Pq.batchIvfAdcTopK(spark, emb, probeMaxId = 5, k = 10)
      .select($"probe_id", $"nn_id", $"adc_micro")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (p, rs) =>
        p -> rs.map(r => (r._2, r._3)).toSet
      }
    assert(batch.keySet == (0L until 5L).toSet)
    (0L until 5L).foreach { p =>
      val single = Pq.ivfAdcTopK(spark, emb, queryVecId = p, k = 10)
        .select($"vec_id", $"adc_micro")
        .as[(Long, Long)].collect().toSet
      assert(batch(p) == single,
        s"probe $p: batch ${batch(p)} != single $single")
    }
  }

  test("IVF-ADC equals the full ADC ranking restricted to probed cells") {
    val emb = Tables.embeddings(spark, sf0001)
    val rows = Pq.ivfAdcTopK(spark, emb, 0, 10)
      .as[(Long, Int, Long)].collect()
    assert(rows.length == 10)
    // probe set from the driver-side codebook (what the plan explodes)
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .as[Array[Float]].head()
    val probed = Ivf.centroids.zipWithIndex.map { case (cent, c) =>
      var acc = 0.0
      for (i <- 0 until math.min(cent.length, q.length)) {
        val d = q(i).toDouble - cent(i); acc += d * d
      }
      (acc, c)
    }.sorted.take(Ivf.NProbe).map(_._2).toSet
    assert(rows.forall(r => probed.contains(r._2)),
      "every hit must come from a probed cell")
    // reference: full-corpus ADC (x52 semantics) filtered to the
    // probed cells must give the same ids and distances
    val cells = Ivf.withCell(emb).select($"vec_id", $"cell")
      .as[(Long, Int)].collect().toMap
    val fullAdc = Pq.adcTopK(spark, emb, 0, 499)
      .as[(Long, Long)].collect()
    val want = fullAdc.filter { case (id, _) => probed.contains(cells(id)) }
      .take(10)
    assert(rows.map(r => (r._1, r._3)).sameElements(want))
  }

  test("persisted code index probes identically to the live ADC scan") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files
      .createTempDirectory("pq_idx_spec").toString
    try {
      Pq.writeIndex(emb, dir)
      val idx = spark.read.parquet(dir)
      // index carries ONLY ids + codes — floats never persisted
      assert(idx.columns.toSet == Set("vec_id", "codes"))
      assert(idx.count() == emb.count())
      val probed = Pq.probeIndex(spark, idx, emb, 0, 10)
        .as[(Long, Long)].collect()
      val live = Pq.adcTopK(spark, emb, 0, 10)
        .as[(Long, Long)].collect()
      assert(probed.sameElements(live),
        "index round-trip changed the ADC ranking")
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("distortion view is exact, complete, and nonzero") {
    val d = Pq.distortionBySubspace(Tables.embeddings(spark, sf0001))
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(d.map(_._1).toSeq == (0 until Pq.M))
    assert(d.forall(_._2 == 500))
    // real data never sits exactly on centroids
    assert(d.forall(r => r._3 > 0 && r._4 >= r._3 / 500))
    // max is a member of the sum's population
    assert(d.forall(r => r._4 <= r._3))
  }
}
