package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = DriverSession.build(sfDir).spark
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (driver never sets it): re-dump only the
    // queries matching the regex; older dumps in outDir stay valid.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // ONE defs snapshot: run functions and oracle SQL must come from the
    // same evaluation so an x37 train-state transition between the two
    // accesses can't pair a rows-only run with a fixture oracle (r11
    // advisor — the spurious-hash-mismatch window).
    val defsSnap = SparkEntry.defs
    defsSnap.map { case (k, d) => k -> d.fn }
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query progress on stderr: a stalled/killed run shows how
        // far it got and where the time went (same insurance as Bench)
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      DriverSession.resetQueryState(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = defsSnap
      .collect { case (k, d) if d.oracle.isDefined => k -> d.oracle.get }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
