package graft

import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Table reads are planned from the manifest: no Spark job runs before the
  * read's own action (a plain `spark.read.parquet` over more than
  * `parallelPartitionDiscovery.threshold` = 32 paths starts a listing
  * job), yet the rows — and the `input_file_name()` strings MOR resolution
  * breaks equal-seq ties on — are exactly those of the plain read. And the
  * manifest's per-file stats, taken from the footers at commit time, agree
  * with the data.
  */
class ManifestReadSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
  private type Ev = (String, String, String, Long, String, String, String, Option[Long])
  private def up(r: Int, p: Int, seq: Long, tag: String): Ev =
    (s"r$r", s"d$r/p$p", "U", seq, s"c$seq", "scala", s"$tag-$seq", Some(seq))
  private def del(r: Int, p: Int, seq: Long): Ev =
    (s"r$r", s"d$r/p$p", "D", seq, null, null, null, None)

  /** Descriptions of the Spark jobs `f` started. */
  private def jobsDuring[A](f: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(s"job ${e.jobId}"))
    }
    org.apache.spark.ListenerBusBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.ListenerBusBridge.drain(sc)
      (r, scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  private def plainRead(t: LakeTable): DataFrame =
    spark.read.schema(t.schema)
      .parquet(t.filesOf(t.head()).map(f => s"${t.root}/${f.path}"): _*)

  /** Row count plus an order-insensitive hash of every column and the file. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(hash((df.columns.map(col) :+ input_file_name()): _*).cast("long").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** 64-bucket tables with > 32 data files; the MOR one holds an equal-seq
    * duplicate across files, whose winner is the byte-greatest file path.
    */
  private lazy val cow: LakeTable = {
    val t = LakeTable(tmpDir("mread-cow") + "/t", numBuckets = 64)
    t.merge(spark, (for (r <- 1 to 8; p <- 1 to 100) yield up(r, p, r * 1000L + p, "v")).toDF(cols: _*), 0L)
    t.merge(spark, ((for (r <- 1 to 8; p <- 1 to 30) yield up(r, p, 100000L + r * 1000 + p, "w")) ++
      (for (r <- 1 to 8; p <- 31 to 40) yield del(r, p, 100000L + r * 1000 + p))).toDF(cols: _*), 1L)
    t
  }
  private lazy val mor: LakeTable = {
    val t = LakeTable(tmpDir("mread-mor") + "/t", numBuckets = 64, LakeTable.Mor)
    t.merge(spark, (for (r <- 1 to 8; p <- 1 to 100) yield up(r, p, r * 1000L + p, "v")).toDF(cols: _*), 0L)
    t.merge(spark, ((for (r <- 1 to 8; p <- 1 to 30) yield up(r, p, 100000L + r * 1000 + p, "w")) ++
      (for (r <- 1 to 8; p <- 31 to 40) yield del(r, p, 100000L + r * 1000 + p))).toDF(cols: _*), 1L)
    // the same (key, seq) again with another payload, in another file
    t.merge(spark, (for (r <- 1 to 8; p <- 1 to 5) yield up(r, p, 100000L + r * 1000 + p, "x")).toDF(cols: _*), 2L)
    t
  }

  for ((mode, table) <- Seq(LakeTable.Cow -> (() => cow), LakeTable.Mor -> (() => mor)))
    test(s"reads plan with zero Spark jobs and equal the plain parquet read, file names included [$mode]") {
      val t = table()
      assert(t.head().totalFiles > 32, "enough files for a plain read to start a listing job")
      val (live, liveJobs) = jobsDuring(t.read(spark))
      val (phys, physJobs) = jobsDuring(t.readWithTombstones(spark))
      assert(liveJobs.isEmpty, s"read planned jobs: $liveJobs")
      assert(physJobs.isEmpty, s"readWithTombstones planned jobs: $physJobs")

      val plain = plainRead(t)
      assert(phys.schema === plain.schema)
      assert(digest(phys) === digest(plain))
      assert(phys.select(input_file_name()).distinct().as[String].collect().toSet ===
        plain.select(input_file_name()).distinct().as[String].collect().toSet)

      // live rows: per key the greatest (seq, file), tombstones dropped
      val w = Window.partitionBy("repo", "path").orderBy(col("seq").desc, col("_f").desc)
      val expected = plain.withColumn("_f", input_file_name())
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1 && !col("deleted"))
        .drop("_f", "_rn", "deleted")
      assert(live.columns.toSeq === expected.columns.toSeq)
      assert(live.collect().toSet === expected.collect().toSet)
      if (mode == LakeTable.Mor)
        assert(live.filter(col("content").startsWith("x-")).count() === 40,
          "equal-seq ties go to the later file")
    }

  test("a merge into a > 32-file target starts no listing job, and its result equals the plain read") {
    val t = LakeTable(tmpDir("mread-merge") + "/t", numBuckets = 64)
    t.merge(spark, (for (r <- 1 to 8; p <- 1 to 100) yield up(r, p, r * 1000L + p, "v")).toDF(cols: _*), 0L)
    assert(t.head().totalFiles > 32)
    val (stats, jobs) = jobsDuring(t.merge(spark,
      (for (r <- 1 to 8; p <- 1 to 100 by 3) yield up(r, p, 100000L + r * 1000 + p, "w")).toDF(cols: _*), 1L))
    assert(stats.applied && stats.touchedBuckets > 32)
    assert(!jobs.exists(_.contains("Listing leaf files")), s"merge jobs: $jobs")
    assert(digest(t.readWithTombstones(spark)) === digest(plainRead(t)))
    assert(t.read(spark).filter(col("content").startsWith("w-")).count() === 8 * 34)
  }

  test("legacy manifest entries without a recorded size read through the on-disk size") {
    val root = tmpDir("mread-legacy") + "/t"
    LakeTable(root, numBuckets = 8).merge(spark,
      (for (r <- 1 to 4; p <- 1 to 50) yield up(r, p, r * 1000L + p, "v")).toDF(cols: _*), 0L)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifests = Files.list(Paths.get(root, "meta", "manifests")).iterator()
    manifests.forEachRemaining { m =>
      val n = mapper.readTree(Files.readString(m))
      n.get("files").elements().forEachRemaining(
        _.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("sizeBytes"))
      Files.writeString(m, mapper.writeValueAsString(n))
    }
    val t = LakeTable.open(root)
    assert(t.filesOf(t.head()).forall(_.sizeBytes == 0L), "entries read back as legacy")
    assert(digest(t.readWithTombstones(spark)) === digest(plainRead(t)))
    assert(t.read(spark).count() === 200L)
  }

  for ((mode, table) <- Seq(LakeTable.Cow -> (() => cow), LakeTable.Mor -> (() => mor)))
    test(s"manifest row counts, key bounds and sizes equal the data [$mode]") {
      val t = table()
      val byFile = plainRead(t).groupBy(input_file_name().as("f"))
        .agg(count(lit(1)), min("repo"), max("repo"), min("path"), max("path"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), Option(r.getString(2)), Option(r.getString(3)),
            Option(r.getString(4)), Option(r.getString(5)))))
      val files = t.filesOf(t.head())
      assert(byFile.length === files.size)
      files.foreach { f =>
        val hits = byFile.filter(_._1.endsWith("/" + f.path))
        assert(hits.length === 1, s"${f.path} read back once")
        assert(hits.head._2 === ((f.rowCount, f.minRepo, f.maxRepo, f.minPath, f.maxPath)), f.path)
        assert(f.sizeBytes === Files.size(Paths.get(t.root, f.path)), f.path)
      }
    }
}
