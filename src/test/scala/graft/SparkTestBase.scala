package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, UTC, AQE on). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `df`, then renders the plan it ran: AQE's final plan when
    * the plan is adaptive (codegen spans only show there), else the
    * executed plan. */
  def ranPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      // graft plan tier at session build, matching Verify/Bench: the
      // rewrite/strategy/functions are session state, so activating
      // them mid-suite (as TopKRewriteSpec's class-init once did) made
      // every later suite's plans depend on class-loading order
      .withExtensions(new graft.plans.GraftSparkExtensions())
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the two session-level keys DriverSession.conf also sets
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(graft.similarity.Ivf.TrainDirKey, "/root/testdata/sf0.001")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
