package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A `FileIndex` over a fixed, already-known file list: the data files a
  * snapshot's manifests name, with the lengths they record. Planning a scan
  * over it lists nothing and stats nothing — `spark.read.parquet(paths)`
  * would check every path exists and, above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths, run a
  * Spark job to list them, all to learn what the manifest already says.
  *
  * One unpartitioned directory (the table's `_b=` directories are a write
  * layout, not a read-side partition column). Equality is by file list, so
  * two reads of the same files are the same relation to the planner, as
  * with `InMemoryFileIndex`'s root-path equality.
  */
private[lake] final case class ManifestFileIndex(files: Seq[FileStatus]) extends FileIndex {
  override def rootPaths: Seq[Path] = files.map(_.getPath)
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()
}
