package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Session-aware Hadoop configuration lookup. A bare
  * `new Configuration()` silently drops every non-default filesystem
  * setting the session carries (object-store credentials, endpoints,
  * timeouts), which makes remote backup roots unreadable in exactly the
  * deployments that need them — and it re-parses the Hadoop XML
  * defaults on every call.
  *
  * The contract:
  *  - driver code uses [[active]];
  *  - task code uses the conf its job shipped: [[broadcast]], created
  *    once when the scan or job is planned (the graftbackup scans and
  *    stream, [[graft.operators.Backup.fsck]]), or the sink's
  *    `BackupSink.Config.hadoop`. Task code never calls [[active]]:
  *    tasks have no active session, so the lookup could only fall back
  *    to a bare conf, and [[active]] throws there instead.
  */
object HadoopConfs {
  def active(): Configuration = {
    if (TaskContext.get() != null)
      throw new IllegalStateException("HadoopConfs.active() called in a " +
        "task; task code must read the conf its job broadcast")
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
  }

  /** [[active]], shipped once to every task of the scans or jobs that
    * hold it. Driver-side. */
  def broadcast(): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(
      new SerializableConfiguration(active()))
}
