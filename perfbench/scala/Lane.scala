package perfbench

import graft.lake.LakeTable
import graft.stream.Tailer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One independent pipeline instance: a watched log directory, the
  * copy-on-write table the tailer merges into, and the tailer's checkpoint, lineage and
  * metrics directories. Log files are released into the watched directory
  * by hard-linking them from the staged log, so every lane sees the same
  * bytes and a release is one atomic directory entry.
  */
final class Lane(val dir: Path) {
  val log: Path = Files.createDirectories(dir.resolve("log"))
  val tableRoot: String = dir.resolve("table").toString
  val checkpoint: Path = dir.resolve("ckpt")
  val lineage: String = dir.resolve("lineage").toString
  val metrics: String = dir.resolve("metrics").toString

  private def config(maxFilesPerTrigger: Option[Int], availableNow: Boolean): Tailer.TailerConfig =
    Tailer.TailerConfig(logDir = log.toString, tableRoot = tableRoot,
      checkpointDir = checkpoint.toString, lineageDir = lineage, metricsDir = metrics,
      numBuckets = Workloads.buckets, maxFilesPerTrigger = maxFilesPerTrigger, availableNow = availableNow)

  /** Make `files` visible to the tailer. */
  def release(files: Seq[Path]): Unit =
    files.foreach(f => Files.createLink(log.resolve(f.getFileName), f))

  def table: LakeTable = LakeTable.open(tableRoot)

  /** Last batch applied to the table; -1 before the first commit. */
  def lastBatchId: Long =
    if (Files.exists(java.nio.file.Paths.get(tableRoot, "meta", "HEAD"))) table.head().lastBatchId
    else -1L

  /** Drain everything released so far; the progress of each non-empty batch. */
  def drain(spark: SparkSession, maxFilesPerTrigger: Option[Int]): Seq[StreamingQueryProgress] = {
    val q = Tailer.run(spark, config(maxFilesPerTrigger, availableNow = true))
    q.awaitTermination()
    Tailer.flushMetrics(metrics)
    Lane.progressOf(q)
  }

  /** Micro-batch id that consumed each log file (file name → batch), read
    * from the file source's log in the checkpoint.
    */
  def batchOfFile(): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.list(dir).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.filter(_.startsWith("{")))
      .map { line =>
        val n = mapper.readTree(line)
        val path = new java.net.URI(n.get("path").asText).getPath
        java.nio.file.Paths.get(path).getFileName.toString -> n.get("batchId").asLong
      }.toMap
  }

  /** Commit time (epoch ms) of the snapshot that applied each batch. */
  def commitMsOfBatch(): Map[Long, Long] = {
    val t = table
    t.versions().map(t.snapshotAt).filter(_.lastBatchId >= 0)
      .groupBy(_.lastBatchId)
      .map { case (b, snaps) => b -> snaps.minBy(_.version).committedAtMs }
  }

  /** On-disk bytes of the table directory (data, manifests, snapshots). */
  def tableBytes(): Long = Lane.treeBytes(java.nio.file.Paths.get(tableRoot))
}

object Lane {
  /** Data files of a generated log, in seq order. */
  def logFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)

  def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  def triggerMs(p: StreamingQueryProgress): Double =
    Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}
