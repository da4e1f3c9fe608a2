package graft.similarity

import graft.{SparkTestBase, Tables}

/** Pins the PQ scan shapes at the plan level:
  *
  * - x52's ADC top-k must be scan → TakeOrderedAndProject — the coded
  *   corpus is scanned once and ONLY the top-k merge crosses
  *   partitions; a global Sort or an extra aggregate Exchange in this
  *   plan would be the 100 TB scale bug (sorting the whole corpus to
  *   keep 10 rows).
  * - the ADC kernel runs inside WholeStageCodegen — PqAdcExpr is a
  *   codegen expression, not a CodegenFallback HOF tree.
  * - x54's probe side broadcasts: the NProbe-row probe set must never
  *   shuffle the coded corpus.
  */
class PqPlanSpec extends SparkTestBase {

  test("ADC top-k plans as TakeOrderedAndProject, no global sort") {
    val plan = Pq.adcTopK(spark, Tables.embeddings(spark, sf0001), 0, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded-heap merge:\n$plan")
    // the Sort NODE renders as "Sort [..." (nodeName strips Exec);
    // "(?<![A-Za-z])" keeps SortMergeJoin from matching
    assert(!java.util.regex.Pattern.compile("(?<![A-Za-z])Sort \\[")
      .matcher(plan).find(),
      s"a global sort for a top-10 is the scale bug:\n$plan")
  }

  test("ADC kernel runs inside WholeStageCodegen") {
    val plan = ranPlan(Pq.adcTopK(spark, Tables.embeddings(spark, sf0001), 0, 10))
    // `*(n)` is the WholeStageCodegen span marker in compact plan text —
    // both kernel projections must sit inside a span, not fall back
    Seq("pqadcexpr", "pqencodeexpr").foreach { kernel =>
      val line = plan.linesIterator.find(_.contains(kernel))
        .getOrElse(fail(s"$kernel not in plan:\n$plan"))
      assert(line.contains("*("),
        s"$kernel fell out of whole-stage codegen:\n$line")
    }
  }

  test("IVF-ADC probe side broadcasts; corpus does not shuffle for it") {
    val plan = Pq.ivfAdcTopK(spark, Tables.embeddings(spark, sf0001), 0, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe set must broadcast:\n$plan")
  }
}
