package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._

/** Invariants of the pipeline part-2 queries (x41 packing, x42 RRF)
  * beyond the oracle hash compare. */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("x41: packing conserves docs+tokens; shards contiguous and budget-bounded") {
    val res = SparkEntry.queries("x41_pack_shards")(spark, sf0001)
      .select($"bucket", $"shard", $"n_docs", $"shard_tokens")
      .as[(Long, Long, Long, Long)].collect()
    val docs = graft.Tables.documents(spark, sf0001)
    val totalDocs = docs.count()
    val totalTokens = docs
      .agg(sum(size(split($"text", " ")))).as[Long].head()
    val maxDocTokens = docs
      .agg(max(size(split($"text", " ")))).as[Long].head()
    assert(res.map(_._3).sum == totalDocs, "every doc lands in one shard")
    assert(res.map(_._4).sum == totalTokens, "token conservation")
    // shard ids are contiguous from 0 within each bucket
    res.groupBy(_._1).foreach { case (b, rows) =>
      val ids = rows.map(_._2).sorted
      assert(ids.head == 0 && ids.sameElements(ids.indices.map(_.toLong)),
        s"bucket $b shards not contiguous: ${ids.toSeq}")
    }
    // a shard's docs all START inside one budget unit, so its total is
    // < budget + the largest straddling doc
    assert(res.forall(_._4 < PipelineQueries.PackBudget + maxDocTokens),
      "shard exceeds budget by more than one straddling doc")
  }

  test("x64: temperature-mix rates match the closed form and the sample " +
    "is the exact hash filter") {
    val res = SparkEntry.queries("x64_temperature_mix")(spark, sf0001)
      .select($"source", $"n_docs", $"n_tokens", $"rate_permille",
        $"n_sampled", $"sampled_tokens")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // independent recompute from collected rows (portable hash included)
    val raw = graft.Tables.documents(spark, sf0001)
      .select($"source", $"doc_id",
        size(split($"text", " ")).cast("long").as("toks"),
        expr("element_at(graft_hash60_array(array(CAST(doc_id AS STRING))," +
          s" ${PipelineQueries.TempMixSeed}), 1) % 1000").as("bucket"))
      .as[(String, Long, Long, Long)].collect()
    val bySrc = raw.groupBy(_._1)
    assert(res.map(_._1).toSet == bySrc.keySet, "every source reported")
    val nTok = bySrc.map { case (src, rows) => src -> rows.map(_._3).sum }
    val w = nTok.map { case (src, n) =>
      src -> math.floor(math.sqrt(n.toDouble)).toLong }
    val tot = nTok.values.sum
    val wsum = w.values.sum
    val budget = tot / PipelineQueries.TempMixBudgetDiv
    res.foreach { case (src, nDocs, nTokens, rate, nSamp, sampTok) =>
      assert(nDocs == bySrc(src).length && nTokens == nTok(src),
        s"$src stats")
      // the staged-division closed form (overflow-safe at any corpus
      // size — see the x64 comment); temperature DIRECTION (rate ∝
      // 1/sqrt(n) before the cap) is a property of this formula, so
      // asserting the formula asserts the direction — a separate
      // min/max-source comparison would flake on floor(sqrt) slack at
      // perfect-square boundaries
      val expRate = math.min(1000L, w(src) * (budget * 1000L /
        nTok(src)) / wsum)
      assert(rate == expRate, s"$src rate $rate != closed-form $expRate")
      val sampled = bySrc(src).filter(_._4 < rate)
      assert(nSamp == sampled.length, s"$src sample count")
      assert(sampTok == sampled.map(_._3).sum, s"$src sample tokens")
      assert(rate <= 1000 && nSamp <= nDocs)
    }
    // the tempered mix actually selects data, and never the whole corpus
    val sampTot = res.map(_._6).sum
    assert(sampTot > 0 && sampTot < tot)
  }

  test("x42: rrf is exactly the integer-floored sum of its two rank legs") {
    val rows = SparkEntry.queries("x42_hybrid_rrf")(spark, sf0001)
      .select($"doc_id", $"bm25_rank", $"cos_rank", $"rrf")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (id, ra, rb, rrf) =>
      assert(rb >= 1, s"doc $id: cosine leg always ranks every candidate")
      assert(ra == -1 || ra >= 1)
      val expected =
        (if (ra > 0) 1000000L / (PipelineQueries.RrfK + ra) else 0L) +
          1000000L / (PipelineQueries.RrfK + rb)
      assert(rrf == expected, s"doc $id: rrf $rrf != $expected")
    }
    // top-20 ordering is (rrf desc, doc_id) — deterministic
    val sorted = rows.sortBy(r => (-r._4, r._1)).toSeq
    assert(rows.toSeq == sorted)
  }

  test("x44: funnel attribution is exclusive (counts sum to the corpus, " +
    "per-source shares sum to 1)") {
    val res = SparkEntry.queries("x44_filter_funnel")(spark, sf0001)
      .select($"source", $"reason", $"n", $"share")
      .as[(String, String, Long, Double)].collect()
    val corpus = graft.Tables.documents(spark, sf0001).count()
    assert(res.map(_._3).sum == corpus,
      "every document attributed to exactly one funnel bucket")
    res.groupBy(_._1).foreach { case (src, rows) =>
      val total = rows.map(_._4).sum
      assert(math.abs(total - 1.0) < 1e-4,
        s"source $src shares sum to $total, not 1")
    }
    assert(res.map(_._2).toSet.subsetOf(
      Set("too_short", "lang_und", "low_quality", "pass")))
  }

  test("x48: add-one bigram LM score equals an independent brute force " +
    "over the real corpus") {
    val got = SparkEntry.queries("x48_bigram_lm")(spark, sf0001)
      .select($"doc_id", $"n_bigrams", $"lm_score").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    val toks = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      // limit -1 keeps trailing empties — Spark split and DuckDB
      // string_split both do; a drifting tokenizer here would hide a
      // real mismatch
      .map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val hist = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val bg = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    toks.foreach { case (_, w) =>
      w.sliding(2).filter(_.size == 2).foreach { p =>
        hist(p.head) += 1; bg((p.head, p(1))) += 1
      }
    }
    val v = toks.flatMap(_._2).distinct.size.toLong
    assert(v > 0 && got.size == toks.length)
    toks.foreach { case (id, w) =>
      val ps = w.sliding(2).filter(_.size == 2).map { p =>
        ((bg((p.head, p(1))) + 1L) * 1000000000000L) / (hist(p.head) + v)
      }.toSeq
      val want =
        if (ps.isEmpty) (0L, -1L) else (ps.size.toLong, ps.sum / ps.size)
      assert(got(id) == want,
        s"doc $id: got ${got(id)}, brute force $want")
    }
  }

  test("x50: reference-LM source ranking equals a brute force trained " +
    "only on src0, with add-one backoff for unseen bigrams") {
    val got = SparkEntry.queries("x50_reference_lm_score")(spark, sf0001)
      .select($"source", $"n_docs", $"mean_score").as[(String, Long, Long)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect().map { case (id, src, t) =>
        (id, src, t.split(" ", -1).toSeq)
      }
    val hist = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val bg = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    docs.filter(_._2 == "src0").foreach { case (_, _, w) =>
      w.sliding(2).filter(_.size == 2).foreach { p =>
        hist(p.head) += 1; bg((p.head, p(1))) += 1
      }
    }
    val v = docs.filter(_._2 == "src0").flatMap(_._3).distinct.size.toLong
    assert(v > 0)
    val perDoc = docs.flatMap { case (id, src, w) =>
      val ps = w.sliding(2).filter(_.size == 2).map { p =>
        ((bg((p.head, p(1))) + 1L) * 1000000000000L) / (hist(p.head) + v)
      }.toSeq
      if (ps.isEmpty) None else Some((src, ps.sum / ps.size))
    }
    val want = perDoc.groupBy(_._1).map { case (src, xs) =>
      src -> (xs.size.toLong, xs.map(_._2).sum / xs.size)
    }
    assert(got == want, s"got $got\nwant $want")
    // the reference source scores itself at least as high as any other
    // source's mean — in-domain text is what the model saw
    val src0 = got("src0")._2
    assert(got.values.forall(_._2 <= src0),
      "src0 must rank at the top of its own reference model")
  }

  test("x51: probing the persisted LSH index equals probing the live " +
    "frame, and every pair crosses batch to corpus") {
    import graft.dedup.Dedup
    val docs = graft.Tables.documents(spark, sf0001)
    val corpus = docs.filter($"source" =!= "src7")
    val batch = docs.filter($"source" === "src7")
    val live = Dedup.lshProbePairs(Dedup.lshIndex(corpus), batch)
      .as[(Long, Long)].collect().toSet
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_lsh_idx").toString
    Dedup.lshIndex(corpus).write.mode("overwrite").parquet(idxDir)
    val persisted = Dedup.lshProbePairs(
      spark.read.parquet(idxDir), batch).as[(Long, Long)].collect().toSet
    assert(persisted == live && live.nonEmpty)
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    val corpusIds = docs.filter($"source" =!= "src7")
      .select($"doc_id").as[Long].collect().toSet
    live.foreach { case (n, c) =>
      assert(batchIds(n) && corpusIds(c),
        s"pair ($n,$c) does not cross batch->corpus")
    }
  }

  test("x45: overlap matrix is upper-triangular and conserves the " +
    "x03 pair count") {
    val m = SparkEntry.queries("x45_source_overlap_matrix")(spark, sf0001)
      .select($"source_a", $"source_b", $"n_pairs")
      .as[(String, String, Long)].collect()
    m.foreach { case (a, b, _) =>
      assert(a <= b, s"matrix cell ($a,$b) not normalized")
    }
    val pairTotal = SparkEntry.queries("x03_minhash_lsh_pairs")(spark, sf0001)
      .count()
    assert(m.map(_._3).sum == pairTotal,
      "matrix cells partition the x03 candidate-pair set")
  }

  test("x55: keep-best removes exactly cluster-size-minus-one per " +
    "cluster and every survivor dominates its losers") {
    val removed = SparkEntry.queries("x55_keep_best_dedup")(spark, sf0001)
      .select($"doc_id", $"cluster_id", $"quality",
        $"kept_doc_id", $"kept_quality")
      .as[(Long, Long, Double, Long, Double)].collect()
    assert(removed.nonEmpty)
    val clusters = SparkEntry.queries("x22_dup_clusters")(spark, sf0001)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect()
    val byCluster = clusters.groupBy(_._2)
    // exactly one survivor per cluster
    removed.groupBy(_._2).foreach { case (c, losers) =>
      assert(losers.length == byCluster(c).length - 1,
        s"cluster $c: ${losers.length} removed of ${byCluster(c).length}")
    }
    removed.foreach { case (doc, c, q, kept, kq) =>
      // survivor is a member of the same cluster, never self
      assert(byCluster(c).exists(_._1 == kept) && kept != doc)
      // quality dominance with the doc_id tie-break
      assert(kq > q || (kq == q && kept < doc),
        s"cluster $c: kept $kept($kq) does not dominate $doc($q)")
    }
    // the quality-stable policy genuinely differs from keep-first
    // somewhere on the fixture (otherwise x55 re-tests x27)
    assert(removed.exists { case (_, c, _, kept, _) => kept != c },
      "every survivor equals the min-id canonical; policy untested")
  }
}
