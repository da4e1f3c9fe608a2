package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("fingerprint: exact polynomial fold") {
    // "ab" → (0*31+97)*31+98 = 3105
    val fp = Seq("ab").toDF("text")
      .select(TextAnalysis.fingerprint("text")).as[Long].collect().head
    assert(fp == 3105L)
  }

  test("fingerprint is order-sensitive (rolling, not bag-of-chars)") {
    val fps = Seq("ab", "ba").toDF("text")
      .select(TextAnalysis.fingerprint("text")).as[Long].collect()
    assert(fps(0) != fps(1))
  }

  test("langPred: marker argmax with priority tie-break") {
    val got = Seq(
      "the cat of a house and more",  // en markers
      "der hund und die katze ist",   // de markers
      "xyz qqq www"                   // no markers → und
    ).toDF("text")
      .select(TextAnalysis.langPred($"text")).as[String].collect()
    assert(got.sameElements(Array("en", "de", "und")))
  }

  test("quality score bounded [0,1] on fixture docs") {
    val scores = graft.Tables.documents(spark, sf0001)
      .select(TextAnalysis.qualityScore($"text")).as[Double].collect()
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("token counts: ws vs regex classes") {
    val df = Seq("hello world 42 x!").toDF("text")
    val (ws, re) = df.select(TextAnalysis.wsTokens($"text"),
      TextAnalysis.regexTokens($"text")).as[(Int, Long)].collect().head
    assert(ws == 4)
    // hello, world, 42, x, ! → 5
    assert(re == 5)
  }

  test("x65: per-source threshold is the MINIMAL permille bucket " +
    "covering the retention target, and n_kept is its exact tail mass") {
    val res = graft.SparkEntry.queries("x65_quality_prune")(spark, sf0001)
      .select($"source", $"n_docs", $"threshold_permille", $"n_kept")
      .as[(String, Long, Long, Long)].collect()
    // independent recompute from collected per-doc quantized scores
    val qp = graft.Tables.documents(spark, sf0001)
      .select($"source",
        org.apache.spark.sql.functions.floor(
          TextAnalysis.qualityScore($"text") * 1000).cast("long"))
      .as[(String, Long)].collect().groupBy(_._1)
    assert(res.map(_._1).toSet == qp.keySet, "every source reported")
    // plan shape: the n_docs branch must REUSE the histogram exchange,
    // not rescan the corpus — the quality expression is the dominant
    // per-row cost and must be evaluated exactly once per document
    val df = graft.SparkEntry.queries("x65_quality_prune")(spark, sf0001)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "x65 n_docs branch rescans the corpus instead of reusing the " +
        "histogram exchange")
    res.foreach { case (src, nDocs, thr, nKept) =>
      val scores = qp(src).map(_._2)
      val target = (scores.length * graft.queries.TextQueries
        .PruneKeepPermille + 999) / 1000
      assert(nDocs == scores.length, s"$src n_docs")
      assert(nKept == scores.count(_ >= thr), s"$src kept = tail mass")
      assert(nKept >= target, s"$src retention below target")
      // minimality: excluding the boundary bucket dips below target
      assert(scores.count(_ > thr) < target,
        s"$src threshold not minimal: a higher cut still covers target")
    }
  }
}
