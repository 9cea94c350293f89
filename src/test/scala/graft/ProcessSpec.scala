package graft

import graft.gen.ChangeLogGen
import graft.stream.Tailer
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Behaviour that needs a JVM of its own: stopping a SparkSession (the
  * suites share one) and a CLI's exit code.
  */
class ProcessSpec extends SparkSpec {

  /** Run `mainClass` in a child JVM on this JVM's classpath; (exit, stderr). */
  private def childJvm(mainClass: String, args: Seq[String],
                       env: Map[String, String] = Map.empty): (Int, String) = {
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq.filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString,
      "-Xmx1g", "-XX:TieredStopAtLevel=1", "-cp", sys.props("java.class.path")) ++
      jvmOpts ++ (mainClass +: args)
    val log = Files.createTempFile("child", ".log")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(false)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD).redirectError(log.toFile)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), s"$mainClass timed out")
    (p.exitValue(), Files.readString(log))
  }

  test("metrics rows land after the session that first wrote them stops and a new one runs a batch") {
    val base = tmpDir("metrics-restart")
    val (code, err) = childJvm("graft.MetricsRestartMain", Seq(base))
    assert(code === 0, err.takeRight(4000))
    val rows = spark.read.parquet(s"$base/metrics")
      .filter(col("name").startsWith("merge.")).select("batchId").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(rows === Set(0L, 1L), "merge.* rows of the batch run by each session")
  }

  test("ReplayCli compact: a non-numeric GRAFT_COMPACT_WAVE is a usage error (exit 2)") {
    val (code, err) = childJvm("graft.tools.ReplayCli", Seq("compact", tmpDir("wave")),
      env = Map("GRAFT_COMPACT_WAVE" -> "four"))
    assert(code === 2, err.takeRight(4000))
    assert(err.contains("usage: GRAFT_COMPACT_WAVE") && err.contains("'four'"), err.takeRight(4000))
  }
}

/** Child-JVM body of the metrics restart test: session 1 replays one log
  * file and stops; session 2, on the same metrics dir, replays a second one.
  */
object MetricsRestartMain {
  def main(args: Array[String]): Unit = {
    val base = args(0)
    def cfg = Tailer.TailerConfig(logDir = s"$base/log", tableRoot = s"$base/table",
      checkpointDir = s"$base/ckpt", lineageDir = s"$base/lineage",
      metricsDir = s"$base/metrics", numBuckets = 4)
    val s1 = Sessions.local(1, "metrics-restart-1")
    ChangeLogGen.write(s1, ChangeLogGen.GenConfig(seed = 3L, nEvents = 400L, nFiles = 2), s"$base/gen")
    val files: Seq[Path] = Files.list(Paths.get(base, "gen")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
    require(files.size == 2, s"expected two log files, got $files")
    Files.createDirectories(Paths.get(base, "log"))
    def release(f: Path): Unit = Files.copy(f, Paths.get(base, "log", f.getFileName.toString))
    release(files(0))
    Tailer.replay(s1, cfg)
    s1.stop()
    val s2 = Sessions.local(1, "metrics-restart-2")
    release(files(1))
    Tailer.replay(s2, cfg)
    s2.stop()
  }
}
