package perfbench

import graft.Sessions
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Entry point of one benchmark run: one workload in a fresh JVM.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   perfbench.Main --selftest --work <dir>
  * }}}
  *
  * Untraced (`--trace 0`): set up, run the timed pass, check the final
  * table against the oracle, print the end-to-end metrics. Traced
  * (`--trace 1`): after set-up, the timed batches untraced (pass A0),
  * with the benchmark's listeners attached (B) and untraced again (A, the
  * pass `--trace 0` makes; B against A0 and A is the listeners'
  * overhead), then the same batches one public layer call at a time
  * inside spans (C); prints the per-layer metrics.
  *
  * Stdout ends with a run record line and then the result line.
  */
object Main {
  private val started = System.nanoTime
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime - started) / 1e9}%.1fs $msg")

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    HostSpeed.start()
    val t0 = System.nanoTime
    val startMs = System.currentTimeMillis
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Sessions.local(cores, "perfbench", Map(
      "spark.sql.streaming.numRecentProgressUpdates" -> "10000",
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString))
    val sessionMs = (System.nanoTime - t0) / 1e6
    val record = mutable.LinkedHashMap[String, Any](
      "nproc" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20))
    val (result, ok) =
      try {
        if (args.contains("--selftest")) {
          val problems = Gate.selfTest(spark, work.resolve("selftest"))
          record("selftest_problems") = problems
          (Json.result(problems.isEmpty, 3, problems.size, Map.empty), problems.isEmpty)
        } else run(spark, work, args, startMs, sessionMs, cores, record)
      } finally {
        log("stopping session")
        spark.stop()
        log("session stopped")
      }
    println(Json.obj(Map("record" -> record)))
    println(result)
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  private def run(spark: org.apache.spark.sql.SparkSession, work: Path, args: Array[String],
                  startMs: Long, sessionMs: Double, cores: Int,
                  record: mutable.LinkedHashMap[String, Any]): (String, Boolean) = {
    val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val w = Workloads.byName(name).getOrElse(sys.error(s"unknown workload $name; known: " +
      Workloads.all.map(_.name).mkString(", ")))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(sys.error("--seconds is required"))
    val trace = arg(args, "--trace").contains("1")
    require(seconds >= 1, "--seconds must be at least 1")
    // a traced run makes four passes over the timed batches, each half as long
    val passSeconds = if (trace) math.max(1, seconds / 2) else seconds
    record ++= Seq("workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "pass_seconds" -> passSeconds, "trace" -> trace)
    val ctx = new Ctx(spark, work, seed, passSeconds, cores)

    def timeMs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime
      val r = f
      (r, (System.nanoTime - t0) / 1e6)
    }
    log("session up")
    val (st, genMs) = timeMs(w.generate(ctx))
    log("log generated")
    val laneA = ctx.newLane("a")
    val (_, warmMs) = timeMs(w.setUp(ctx, st, laneA))
    val setupMs = sessionMs + genMs + warmMs
    // set-up parts scaled by the host speed over the whole set-up
    def setupAdj(ms: Double): Double =
      HostSpeed.adjust(ms, startMs, startMs + setupMs.toLong)
    log("set up")
    // traced: passes A0 and B first, then the untraced pass A below
    val listened = if (trace) Some(Traced.listenedPass(ctx, w, st)) else None
    val target = if (trace) Some(w.layeredTarget(ctx, st, laneA)) else None
    // the probe's speed with the engine idle, under the engine's load and
    // under the calibration kernel's all-core load, for the run record
    val probe = mutable.LinkedHashMap[String, Double]("idle_before" -> HostSpeed.idle(1000))
    val calibAt = System.currentTimeMillis
    record("calib_mhps_pre") = HostSpeed.calibrate(cores)
    probe("calib") = HostSpeed.mean(calibAt, System.currentTimeMillis)
    val timedMs = System.currentTimeMillis
    val a = w.timed(ctx, st, laneA)
    // the untimed lead-in batches of the timed query are warm-up too
    val leadAdj = a.leadInAdj
    probe("timed") = HostSpeed.mean(timedMs, System.currentTimeMillis)
    val lk = Workloads.lookups(ctx, a.lane.table, st.keysIn(st.files), Workloads.lookupsAfter)
    record("calib_mhps_post") = HostSpeed.calibrate(cores)
    log("timed pass done")
    val gate = Gate.check(spark, a.lane.table, st.files.map(_.toString), Some(a.lane.lineage))
    log("gate checked")
    probe("idle_after") = HostSpeed.idle(1000)
    record("probe_mhps") = probe
    val batchAdj = a.batchAdj
    record ++= Seq(
      "setup_ms_raw" -> Map("session" -> sessionMs, "gen" -> genMs, "warmup" -> warmMs,
        "lead_in" -> a.leadInMs),
      "events" -> a.events, "ingest_eps_raw" -> a.events / (a.batchMs.sum / 1000),
      "batch_ms_raw_each" -> a.batchMs, "batch_ms_adj_each" -> batchAdj,
      "lookup_ms_raw_each" -> lk.ms,
      "batch_probe_each" -> a.progress.map { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        HostSpeed.mean(t, t + Lane.triggerMs(p).toLong) },
      "host_mhps_mean" -> HostSpeed.mean(startMs, System.currentTimeMillis))
    record ++= tails("batch_ms_raw", a.batchMs) ++ tails("lookup_ms_raw", lk.ms)

    var errors = a.errors ++ lk.errors ++ gate
    var attempted = a.progress.size.toLong + a.leadIn.size + Workloads.lookupsAfter
    var failed = lk.errors.size.toLong + gate.size
    val metrics: Map[String, Double] =
      if (!trace) {
        val live = a.lane.table.read(spark)
          .agg(coalesce(sum(octet_length(col("content"))), lit(0L))).head().getLong(0)
        Map(
          "setup_s" -> (setupAdj(setupMs) + leadAdj) / 1000,
          "ingest_eps_adj" -> a.events / (batchAdj.sum / 1000),
          "batch_ms_p50_adj" -> Stats.pct(batchAdj, 50),
          "lookup_ms_p50_adj" -> Stats.pct(lk.adj, 50),
          "written_bytes_per_event" -> a.writtenBytes.toDouble / a.writtenEvents,
          "table_bytes_per_live_byte" -> a.lane.tableBytes().toDouble / math.max(1L, live))
      } else {
        val t = Traced.run(ctx, st, listened.get, a, target.get)
        errors ++= t.errors
        attempted += t.attempted
        failed += t.failed
        record("spans") = t.spanSummary
        t.metrics ++ Map("session.start_ms" -> setupAdj(sessionMs),
          "gen.wall_ms" -> setupAdj(genMs), "warmup.wall_ms" -> (setupAdj(warmMs) + leadAdj))
      }
    Lane.deleteTree(work.resolve("staged"))
    if (errors.nonEmpty) record("errors") = errors.take(10)
    val correct = errors.isEmpty
    (Json.result(correct, attempted, failed, metrics), correct)
  }

  /** p50 and the highest percentile with at least ten samples above it. */
  private def tails(name: String, xs: Seq[Double]): Seq[(String, Any)] = {
    val p = Stats.tailPct(xs.size)
    Seq(s"${name}_n" -> xs.size, s"${name}_p50" -> Stats.pct(xs, 50)) ++
      (if (p > 50) Seq(s"${name}_p$p" -> Stats.pct(xs, p)) else Nil)
  }
}

/** JSON for the record and result lines. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def obj(m: scala.collection.Map[String, Any]): String = mapper.writeValueAsString(m)

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Map[String, Double]): String =
    obj(mutable.LinkedHashMap[String, Any]("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> mutable.LinkedHashMap(metrics.toSeq.sortBy(_._1): _*)))
}
