package graft.plans

import graft.SparkTestBase

/** Physical plans must not depend on suite execution order (r13 verdict
  * #1): with TopKRewrite registered at SESSION BUILD, the plan a query
  * gets in a fresh session equals the plan it gets after other queries
  * — including the q93 family that used to flip the rewrite on — have
  * run. x61's truth side (Ann.nearestNeighbors' per-probe top-10) is
  * the canary the verdict named: before this round, its plan depended
  * on whether q93 had already executed in the same session.
  */
class PlanDeterminismSpec extends SparkTestBase {

  private val sf = sf0001

  /** Structural plan signature: expression IDs (#123), codegen stage
    * ids and plan ids vary run-to-run even for identical plans — strip
    * them so only the operator tree + column structure remains. */
  private def shape(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "#")
      .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=]")
      .replaceAll("\\(\\d+\\)", "(n)")

  /** The x61 truth side — the exact per-probe top-10 window-rank idiom
    * the rewrite targets (same call as SimilarityQueries.ivfRecallRun's
    * truth input; the IVF side needs codebook training, which is state,
    * not plan, so the rank idiom is the determinism-relevant part). */
  private def x61Truth(s: org.apache.spark.sql.SparkSession) =
    graft.similarity.Ann.nearestNeighbors(
      s, graft.Tables.embeddings(s, sf), probeMaxId = 50, k = 10)

  test("x61's plan is identical in a fresh session and mid-suite " +
    "(after the q93 rewrite family ran)") {
    // newSession() carries the builder's extensions but gets FRESH
    // session state (experimental methods, conf, temp views) — the
    // closest local[*] analogue of a new library user's session.
    val fresh = spark.newSession()
    val freshShape = shape(x61Truth(fresh))

    val midSuite = spark.newSession()
    // run the full q93 closure (the one that used to call
    // enableRewrite) before planning x61 in the same session
    graft.queries.TpchQueries.defs("q93_topk_rewrite").fn(midSuite, sf).count()
    val midShape = shape(x61Truth(midSuite))

    assert(freshShape == midShape,
      s"plan differs fresh vs mid-suite:\nFRESH:\n$freshShape\nMID:\n$midShape")
    // and it is the MEASURED plan: the bounded-heap operator, not the
    // Window fallback — proving session-build registration reaches the
    // query (not just that both sessions equally lack it)
    assert(freshShape.contains("GroupTopK "),
      s"rewrite did not fire in a fresh session:\n$freshShape")
    assert(!freshShape.contains("WindowGroupLimit"),
      s"stock window-group-limit plan survived:\n$freshShape")
  }

  test("q93's own plan no longer mutates session state: experimental " +
    "strategies/optimizations stay empty after it runs") {
    val s = spark.newSession()
    graft.queries.TpchQueries.defs("q93_topk_rewrite").fn(s, sf).count()
    assert(s.experimental.extraStrategies.isEmpty,
      "q93 appended a strategy to shared session state")
    assert(s.experimental.extraOptimizations.isEmpty,
      "q93 appended an optimizer rule to shared session state")
  }

  test("operators leave session state as built: conf and function " +
    "registry unchanged after a sample of the operator surface") {
    val s = spark.newSession()
    // a createOrReplaceTempFunction rewrite shows as a changed class name
    def registry: Set[(String, String)] = {
      val reg = s.sessionState.functionRegistry
      reg.listFunction().map(id =>
        (id.unquotedString, reg.lookupFunction(id).map(_.getClassName).orNull))
        .toSet
    }
    val confBefore = s.conf.getAll.toSet
    val registryBefore = registry

    graft.Tables.load(s, sf, "orders").count()
    val tmp = java.nio.file.Files.createTempDirectory("graft_session_state_")
    val events = tmp.resolve("events.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), events): Unit
    graft.operators.Backup.run(s, graft.config.BackupConfig(
      inputPath = events.toString, outputPath = tmp.resolve("b").toString,
      from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
      to = java.time.Instant.parse("2024-01-08T00:00:00Z")),
      faithfulStrings = true)
    graft.operators.Restore.run(s, tmp.resolve("b").toString,
      graft.Tables.loadPath(s, events.toString).schema, "event_type",
      tmp.resolve("r").toString).count()
    Seq("x03_minhash_lsh_pairs", "x17_ann_ivf_topk", "s01_stream_tumbling")
      .foreach(q => graft.SparkEntry.queries(q)(s, sf).collect())
    graft.operators.BpeTrain.trainOnText(s, graft.Tables.documents(s, sf),
      "text", 3).collect()

    val confAfter = s.conf.getAll.toSet
    val registryAfter = registry
    val drift = Seq(
      "conf added" -> (confAfter -- confBefore),
      "conf removed" -> (confBefore -- confAfter),
      "functions added" -> (registryAfter -- registryBefore),
      "functions removed" -> (registryBefore -- registryAfter))
      .filter(_._2.nonEmpty)
    assert(drift.isEmpty, drift.mkString("\n"))
  }
}
