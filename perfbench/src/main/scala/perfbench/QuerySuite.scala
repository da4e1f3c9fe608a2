package perfbench

import graft.queries._

/** q- and x-family queries of the engine's query surface on the
  * committed sf0.01 fixture. The suite and its order are fixed; the seed
  * does not change this workload. One op is one query: building its
  * DataFrame and running `count()` on it, timed at the query's first
  * execution in the JVM after a shared warm-up. */
object QuerySuite extends Workload {

  /** The defining objects, in BENCHMARK.json order. */
  val objects: Seq[String] = Seq(
    "TpchQueries", "SqlSurfaceQueries", "CboQueries", "BucketQueries",
    "TimeSeriesQueries", "PipelineQueries", "TextQueries", "DedupQueries",
    "SimilarityQueries")

  def defsOf(obj: String): Map[String, QueryDef] = obj match {
    case "TpchQueries" => TpchQueries.defs
    case "SqlSurfaceQueries" => SqlSurfaceQueries.defs
    case "CboQueries" => CboQueries.defs
    case "BucketQueries" => BucketQueries.defs
    case "TimeSeriesQueries" => TimeSeriesQueries.defs
    case "PipelineQueries" => PipelineQueries.defs
    case "TextQueries" => TextQueries.defs
    case "DedupQueries" => DedupQueries.defs
    case "SimilarityQueries" => SimilarityQueries.defs
  }

  /** Every q/x query with its defining object. */
  lazy val surface: Map[String, (String, QueryDef)] =
    objects.flatMap(o => defsOf(o).collect {
      case (k, d) if k.startsWith("q") || k.startsWith("x") => k -> (o, d)
    }).toMap

  /** The timed suite: query -> expected row count (DuckDB oracle count
    * on the fixture, or the count recorded for rows-only queries). */
  lazy val expected: Map[String, Long] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/perfbench/expected_counts.tsv"), "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val f = l.split("\t")
      f(0) -> f(1).toLong
    }.toMap finally src.close()
  }

  final case class State(dir: String, order: Seq[String])

  /** Queries run in name order: a seed-shuffled order moved every
    * query's first-execution wall with what ran before it, and spread
    * the per-seed medians wider than the metrics' bounds. */
  def stage(ctx: Ctx): State =
    State(ctx.fixture.getPath, expected.keys.toSeq.sorted)

  /** Shared warm-up: scan, aggregate, join and JSON paths on the
    * fixture, none of them a suite query. */
  override def warm(ctx: Ctx, st: State): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = ctx.spark
    val e = graft.Tables.events(spark, st.dir)
    e.groupBy("event_type").count().collect()
    e.selectExpr("get_json_object(props, '$.k') as k").distinct().count()
    graft.Tables.lineitem(spark, st.dir).join(graft.Tables.orders(spark, st.dir),
      col("l_orderkey") === col("o_orderkey")).count()
  }

  def measure(ctx: Ctx, st: State): Result = {
    val t = ctx.tracer
    var failed = 0
    val rows = Seq.newBuilder[Long]
    val byObj = st.order.map { q =>
      val (obj, d) = surface(q)
      val walls = try {
        val (n, span) = t.op(q)(d.fn(ctx.spark, st.dir).count())
        rows += n
        if (n != expected(q)) {
          failed += 1
          System.err.println(s"query_suite: $q returned $n rows, expected ${expected(q)}")
        }
        Some(span)
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"query_suite: $q threw $e")
          None
      }
      (obj, walls)
    }
    val spans = byObj.flatMap(_._2)
    val w = spans.map(_.seconds)
    val layers = if (!t.enabled) Map.empty[String, Double] else {
      byObj.groupBy(_._1).flatMap { case (obj, xs) =>
        val ops = xs.flatMap(_._2)
        val stages = t.stagesOf(ops.flatMap(t.jobsOf))
        val qes = ops.flatMap(t.qesOf)
        Map(
          s"$obj.wall_s" -> ops.map(_.seconds).sum,
          s"$obj.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
          s"$obj.plan_s" ->
            qes.map(q => q.analysis + q.optimize + q.physical).sum / 1e9,
          s"$obj.stages" -> stages.size.toDouble)
      }
    }
    val suite = w.sum
    Result(
      samples = w,
      rowsPerS = if (suite > 0) rows.result().sum / suite else 0.0,
      attempted = st.order.size, failed = failed,
      named = Seq(
        ("query_p50_s", if (w.isEmpty) 0.0 else Stats.median(w), "s"),
        ("query_tail_s", if (w.isEmpty) 0.0 else Stats.tail(w).value, "s"),
        ("suite_s", suite, "s"),
        ("queries", w.size.toDouble, "count")),
      layers = layers)
  }
}
