package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]].
  *
  * @param samples  wall seconds of each timed op (the op_* metrics)
  * @param rowsPerS the workload's row throughput (rows_per_s)
  * @param named    the workload's own end-to-end figures, printed by name
  * @param layers   workload-specific per-layer metrics (traced run)
  */
final case class Result(samples: Seq[Double], rowsPerS: Double,
                        attempted: Int, failed: Int,
                        named: Seq[(String, Double, String)],
                        layers: Map[String, Double])

/** Shared run context. `work` is the run's private scratch directory. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     seconds: Double, work: File, fixture: File) {
  def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }
}

/** One benchmark workload: [[stage]] writes its inputs, [[warm]] runs
  * once untimed, then [[measure]] runs the timed ops, as many as
  * `ctx.seconds` calls for. */
trait Workload {
  type State
  def stage(ctx: Ctx): State
  def warm(ctx: Ctx, state: State): Unit = ()
  def measure(ctx: Ctx, state: State): Result
}

object Workload {
  val all: Map[String, Workload] = Map(
    "bulk_backup" -> BulkBackup,
    "hourly_ingest" -> HourlyIngest,
    "query_suite" -> QuerySuite,
    "stream_backup" -> StreamBackup)

  /** Bytes of the regular files under `f`, in MiB. */
  def mib(f: File): Double = {
    def bytes(x: File): Long =
      if (x.isDirectory) Option(x.listFiles).map(_.map(bytes).sum).getOrElse(0L)
      else x.length
    bytes(f) / 1048576.0
  }

  /** Chunk files under a backup root: (count, bytes). */
  def chunkStats(root: File): (Long, Long) = {
    var n = 0L
    var b = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (!f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        f.getName.contains(".log")) { n += 1; b += f.length }
    walk(root)
    (n, b)
  }
}
