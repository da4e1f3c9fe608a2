package graft.sources

import org.apache.spark.sql.connector.read.InputPartition

/** The chunks of a graftbackup plan, flattened out of its packed read
  * partitions in plan order. */
object PlannedChunks {
  def apply(parts: Array[InputPartition]): Seq[BackupChunk] =
    parts.toSeq.flatMap(_.asInstanceOf[BackupReadPartition].chunks)
}
