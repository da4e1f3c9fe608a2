package perfbench

import java.io.File

/** Runs q/x queries once each on the fixture and prints, one JSON object
  * a line, each query's defining object, row count, wall seconds and
  * DuckDB oracle SQL (null for rows-only queries). `record_counts.py`
  * turns this into the suite's expected counts.
  *
  * Arguments: `<fixture dir> <work dir>`. */
object RecordCounts {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Main.session(new File(args(1)), new File(dir))
    QuerySuite.surface.keys.toSeq.sorted.foreach { q =>
      val (obj, d) = QuerySuite.surface(q)
      val t0 = System.nanoTime()
      val rows = try d.fn(spark, dir).count() catch {
        case e: Exception =>
          System.err.println(s"$q threw $e")
          -1L
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val oracle = d.oracle.map(Json.str).getOrElse("null")
      println(s"""{"query": "$q", "object": "$obj", "rows": $rows, """ +
        s""""wall_s": $wall, "oracle": $oracle}""")
    }
    spark.stop()
  }
}
