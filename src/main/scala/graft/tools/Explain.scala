package graft.tools

/** Plan-audit helper: print `explain(formatted)` for the named queries.
  * Usage: runMain graft.tools.Explain <sfDir> <regex>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, pattern) = args
    val re = pattern.r
    // the plan-audit tool must see the plans Verify/Bench EXECUTE, so
    // it runs on their session
    val spark = graft.DriverSession.build(sfDir).spark
    graft.SparkEntry.queries
      .filter { case (n, _) => re.findFirstIn(n).isDefined }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"==== $name ====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
