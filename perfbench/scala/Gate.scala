package perfbench

import graft.lake.LakeTable
import graft.model.Model
import graft.stream.Tailer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness gate: the final table must equal a last-writer-wins fold of
  * the raw log computed with plain Spark (no Dedupe, LwwAgg or Normalize).
  *
  * Oracle: per key the max-seq event wins; the key is live iff that
  * event's op is not `D`; content comes from the payload JSON. The table
  * and the oracle are compared by row count and an order-insensitive
  * digest over (repo, path, seq, sha256(content)); the lineage table must
  * account for every event of the log exactly once.
  */
object Gate {

  final case class Digest(rows: Long, sum: java.math.BigDecimal)

  private def digest(df: DataFrame): Digest = {
    val r = df
      .select(xxhash64(col("repo"), col("path"), col("seq"), sha2(col("content"), 256))
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    Digest(r.getLong(0), r.getDecimal(1))
  }

  /** Live (repo, path, seq, content) rows of the log `files`. */
  def oracle(spark: SparkSession, files: Seq[String]): DataFrame = {
    val ev = spark.read.schema(Model.changeLogSchema).parquet(files: _*)
    val winners = ev.groupBy("repo", "path").agg(max("seq").as("seq"))
    ev.join(winners, Seq("repo", "path", "seq"))
      .filter(col("op") =!= "D")
      .select(col("repo"), col("path"), col("seq"),
        get_json_object(col("payload"), "$.content").as("content"))
  }

  /** Every mismatch between `table` and the log; empty when the gate passes. */
  def check(spark: SparkSession, table: LakeTable, files: Seq[String],
            lineageDir: Option[String]): Seq[String] = {
    val want = digest(oracle(spark, files))
    val got = digest(table.read(spark))
    val lineage = lineageDir.flatMap { dir =>
      val events = spark.read.schema(Model.changeLogSchema).parquet(files: _*).count()
      val applied = Tailer.readLineage(spark, dir)
        .agg(coalesce(sum("rowsApplied"), lit(0L))).head().getLong(0)
      if (applied != events) Some(s"lineage rowsApplied $applied != log events $events") else None
    }
    Seq(
      if (got.rows != want.rows) Some(s"live rows ${got.rows} != oracle ${want.rows}") else None,
      if (got.sum.compareTo(want.sum) != 0) Some(s"state digest differs from oracle") else None
    ).flatten ++ lineage
  }

  /** The gate must pass on a correct table and fail on corrupted copies of
    * it: one with a row's content changed, one with a live row removed.
    */
  def selfTest(spark: SparkSession, work: java.nio.file.Path): Seq[String] = {
    val log = work.resolve("log").toString
    graft.gen.ChangeLogGen.write(spark,
      graft.gen.ChangeLogGen.GenConfig(seed = 11L, nEvents = 5000L, nFiles = 4), log)
    val files = Lane.logFiles(java.nio.file.Paths.get(log)).map(_.toString)
    val lineage = work.resolve("lineage").toString
    val root = work.resolve("table")
    Tailer.replay(spark, Tailer.TailerConfig(logDir = log, tableRoot = root.toString,
      checkpointDir = work.resolve("ckpt").toString, lineageDir = lineage,
      metricsDir = work.resolve("metrics").toString, numBuckets = 8))
    val clean = check(spark, LakeTable.open(root.toString), files, Some(lineage))

    val victim = LakeTable.open(root.toString).read(spark)
      .orderBy("repo", "path").limit(1).collect().head
    // the corrupting row keeps the victim's seq, so only content or
    // presence can tell the copy from the correct table
    def corrupted(name: String, op: String, content: String): Seq[String] = {
      val copy = work.resolve(name)
      Lane.copyTree(root, copy)
      val t = LakeTable.open(copy.toString)
      import spark.implicits._
      val batch = Seq((victim.getAs[String]("repo"), victim.getAs[String]("path"), op,
        victim.getAs[Long]("seq"), victim.getAs[String]("commit"),
        victim.getAs[String]("language"), content, victim.getAs[java.lang.Long]("size_bytes")))
        .toDF(Tailer.mergeCols: _*)
      val stats = t.merge(spark, batch, t.head().lastBatchId + 1, updateColumns = None,
        retries = 3, acceptEqualSeq = true)
      require(stats.applied, s"self-test could not write the $name copy")
      check(spark, t, files, Some(lineage))
    }
    val edited = corrupted("edited", "U", victim.getAs[String]("content") + " ")
    val dropped = corrupted("dropped", "D", null)
    Seq(
      if (clean.nonEmpty) Some(s"gate rejected a correct table: ${clean.mkString("; ")}") else None,
      if (edited.isEmpty) Some("gate accepted a table with an edited row") else None,
      if (dropped.isEmpty) Some("gate accepted a table with a dropped row") else None
    ).flatten
  }
}
