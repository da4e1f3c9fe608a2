package graft.queries

import graft.{SparkEntry, SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** x67's composition contract beyond the oracle hash compare:
  *  - the staged result equals a driver-side recompute that chains the
  *    four component rules (x65 prune → x64 mix-on-pruned → x19 split
  *    → x41 pack) over the collected per-doc projection;
  *  - the prune stage agrees with x65's own output (same thresholds);
  *  - the corpus is scanned once at runtime — the (source, qp)
  *    exchange is REUSED by the histogram and doc-level branches, not
  *    re-planned as separate scans (the r13 x65 review discipline).
  */
class CapstoneSpec extends SparkTestBase {
  import spark.implicits._

  private val KeepPermille = TextQueries.PruneKeepPermille
  private val BudgetDiv = PipelineQueries.TempMixBudgetDiv
  private val Buckets = PipelineQueries.PackBuckets
  private val Budget = PipelineQueries.PackBudget

  /** The same narrow per-doc projection x67 starts from, collected.
    * Shares the component Column expressions deliberately — those are
    * pinned by the x12/x64/x19/x41 oracles; what THIS spec must not
    * share is the staging logic, which is re-derived in plain Scala
    * below. */
  private def perDoc() = {
    def hashBit(seed: Int, mod: Long) = expr(
      "element_at(graft_hash60_array(array(CAST(doc_id AS STRING)), " +
        s"$seed), 1) % $mod")
    Tables.documents(spark, sf0001).select(
        col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        floor(graft.functions.TextAnalysis.qualityScore(col("text")) * 1000)
          .cast("long").as("qp"),
        hashBit(PipelineQueries.TempMixSeed, 1000L).as("mixb"),
        hashBit(42, 100L).as("splitb"),
        hashBit(PipelineQueries.PackSeed, Buckets.toLong).as("packb"))
      .as[(Long, String, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
  }

  test("x67 equals the chained component rules recomputed driver-side, " +
    "and its prune thresholds equal x65's") {
    val docs = perDoc()

    // x65 rule: per-source threshold = largest qp whose >=-tail covers
    // ceil(30% of n); kept docs are qp >= threshold
    val bySource = docs.groupBy(_._2)
    val thr = bySource.map { case (src, ds) =>
      val target = (ds.length * KeepPermille + 999) / 1000
      val qps = ds.map(_._4).sorted(Ordering[Long].reverse)
      // walking down distinct qp values, the threshold is the last one
      // whose cumulative count still reaches the target
      val t = qps.distinct.map(q => (q, ds.count(_._4 >= q)))
        .filter(_._2 >= target).maxBy(_._1)._1
      src -> t
    }
    val pruned = docs.filter(d => d._4 >= thr(d._2))

    // x64 rule ON THE PRUNED CORPUS: w_i = floor(sqrt(tokens_i)),
    // B = tot/BudgetDiv, rate = min(1000, (w·((B·1000) div n_i)) div Σw)
    val tok = pruned.groupBy(_._2).map { case (s, ds) => s -> ds.map(_._3).sum }
    val tot = tok.values.sum
    val w = tok.map { case (s, n) => s -> math.floor(math.sqrt(n.toDouble)).toLong }
    val wsum = w.values.sum
    val rate = tok.map { case (s, n) =>
      s -> math.min(1000L, (w(s) * (((tot / BudgetDiv) * 1000L) / n)) / wsum)
    }
    val mixed = pruned.filter(d => d._5 < rate(d._2))
    assert(mixed.nonEmpty && mixed.length < pruned.length,
      "fixture must exercise both the prune and the mix stage")

    // x19 rule: split by hash bucket; x41 rule: greedy pack per
    // (split, bucket) in doc_id order
    def splitOf(b: Long) = if (b < 80) "train" else if (b < 90) "val" else "test"
    val expected = mixed.toSeq
      .map(d => (splitOf(d._6), d._7, d._1, d._3))
      .groupBy(t => (t._1, t._2))
      .toSeq
      .flatMap { case ((sp, bk), ds) =>
        var cum = 0L
        ds.sortBy(_._3).map { case (_, _, _, t) =>
          val shard = cum / Budget
          cum += t
          ((sp, bk, shard), t)
        }
      }
      .groupBy(_._1)
      .map { case (k, vs) => k -> ((vs.size.toLong, vs.map(_._2).sum)) }

    val got = SparkEntry.queries("x67_corpus_build")(spark, sf0001)
      .select($"split", $"bucket", $"shard", $"n_docs", $"shard_tokens")
      .as[(String, Long, Long, Long, Long)].collect()
      .map { case (sp, bk, sh, n, t) => (sp, bk, sh) -> ((n, t)) }.toMap
    assert(got == expected,
      s"capstone mismatch:\n got      $got\n expected $expected")

    // composition contract with the shipped x65: same thresholds
    val x65 = SparkEntry.queries("x65_quality_prune")(spark, sf0001)
      .select($"source", $"threshold_permille")
      .as[(String, Long)].collect().toMap
    assert(x65 == thr.toMap.map { case (k, v) => k -> v },
      "capstone prune thresholds diverge from x65's")
  }

  test("x67 runtime plan scans the corpus exactly twice: histogram + " +
    "doc stream, the stats side one linear window chain") {
    val df = SparkEntry.queries("x67_corpus_build")(spark, sf0001)
    df.collect() // AQE finalizes the plan at execution
    // AdaptiveSparkPlan's toString appends the pre-AQE "Initial Plan"
    // section, which would double-count — keep the final plan only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2,
      s"expected TWO parquet scans (the x64/x65 stats-then-apply " +
        s"floor; a stats self-join multiplies scans — measured 8 " +
        s"before the linear-chain design), found $scans:\n$plan")
  }
}
