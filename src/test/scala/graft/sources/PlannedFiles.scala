package graft.sources

import org.apache.spark.sql.connector.read.InputPartition

/** The chunk files a scan plans. A planned partition is a split that may
  * hold several files, so specs that count files count these. */
object PlannedFiles {
  def of(parts: Array[InputPartition]): Seq[GraftFileSpec] =
    parts.toSeq.flatMap(_.asInstanceOf[GraftInputPartition].files)

  implicit class Ops(val scan: GraftScan) extends AnyVal {
    def plannedFiles(): Seq[GraftFileSpec] = of(scan.planInputPartitions())
  }
}
