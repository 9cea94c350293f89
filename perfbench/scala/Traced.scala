package perfbench

import graft.lake.LakeTable
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Passes A0 and B of a traced run: the adjusted batch median of the
  * untraced pass A0, then the tailer with the benchmark's listeners
  * attached (B) and what the listeners saw of its timed batches.
  */
final case class ListenedPass(a0Ms: Double, tr: Tracer, b: Timed, nonMergeMs: Seq[Double],
                              jobsPerBatch: Seq[Double], inputRows: Long, errors: Seq[String])

/** What the traced half of a run measured. */
final case class TraceOut(metrics: Map[String, Double], errors: Seq[String],
                          attempted: Long, failed: Long, spanSummary: Map[String, Any])

/** The traced half of a `--trace 1` run. */
object Traced {

  /** Pass A0, untraced, then pass B: each sets up its own lane and runs
    * the timed pass, B with the benchmark's listeners attached. The
    * untraced pass A follows B, so B's overhead is measured against the
    * mean of an untraced pass before it and one after it: passes later
    * in a JVM run slower, and warming would favour the later ones.
    */
  def listenedPass(ctx: Ctx, w: Workload, st: Staged): ListenedPass = {
    val spark = ctx.spark
    val laneA0 = ctx.newLane("a0")
    w.setUp(ctx, st, laneA0)
    val a0 = w.timed(ctx, st, laneA0)
    Lane.deleteTree(a0.lane.dir)
    val tr = new Tracer(spark)
    tr.start()
    val laneB = ctx.newLane("b")
    w.setUp(ctx, st, laneB)
    val b = w.timed(ctx, st, laneB)
    val errors = mutable.ArrayBuffer.empty[String] ++ a0.errors ++ b.errors
    val mergeSecs = spark.read.parquet(b.lane.metrics)
      .filter(col("name") === "merge.seconds")
      .groupBy("batchId").agg(max("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    tr.stop()
    // the listener's view of the timed batches, matched on (batch, start)
    val timed = b.progress.map(p =>
      (p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli)).toSet
    val seen = tr.progress.toArray(Array.empty[tr.Progress])
      .filter(p => timed.contains((p.batchId, p.startMs)))
    if (seen.length != timed.size)
      errors += s"streaming listener saw ${seen.length} of ${timed.size} batches"
    val nonMerge = seen.flatMap(p => mergeSecs.get(p.batchId).map(s => p.triggerMs - s * 1000))
    val jobsPerBatch = seen.map(p => tr.jobsBetween(p.startMs, p.startMs + p.triggerMs).toDouble)
    Lane.deleteTree(b.lane.dir)
    Main.log("listened tailer pass done")
    ListenedPass(Stats.pct(a0.batchAdj, 50), tr, b, nonMerge.toSeq, jobsPerBatch.toSeq,
      seen.map(_.inputRows).sum, errors.toSeq)
  }

  /** `a` is the untraced pass, made after pass B; the tracing overhead is
    * B against the mean of A0 and A. Pass C applies B's batches, the lead-in included, one
    * public layer call at a time inside spans, to the tables `target`
    * gives.
    */
  def run(ctx: Ctx, st: Staged, lp: ListenedPass, a: Timed,
          target: Int => LakeTable): TraceOut = {
    val spark = ctx.spark
    val tr = lp.tr
    val b = lp.b
    val errors = mutable.ArrayBuffer.empty[String] ++ lp.errors
    val untracedMs = Stats.pct(a.batchAdj, 50)
    val aroundBMs = (lp.a0Ms + untracedMs) / 2

    // --- pass C: one public layer call per span, the same batches
    tr.start()
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val tables = (b.leadInBatches ++ b.batches).zipWithIndex.map { case (files, i) =>
      val t = target(i)
      Workloads.applyLayered(spark, tr, t, files, counts)
      t
    }
    val table = tables.last
    val keys = st.keysIn(st.files)
    val lookupErrors = mutable.ArrayBuffer.empty[String]
    // (files read, rows scanned, rows returned) of each lookup
    val lookups = (1 to Workloads.lookupsAfter).map { _ =>
      val (r, p) = keys(ctx.rng.nextInt(keys.size))
      var scan = (0L, 0L, 0)
      tr.span("lake.lookup") {
        Workloads.lookupOnce(spark, table, r, p, (df, n) => {
          val (files, rows) = tr.scanOf(df.queryExecution)
          scan = (files, rows, n)
        })
      }.left.foreach(lookupErrors += _)
      scan
    }
    errors ++= lookupErrors
    errors ++= Gate.check(spark, table, st.files.map(_.toString), lineageDir = None)
    val tableFiles = table.head().totalFiles.toDouble
    tr.stop()
    tables.map(t => java.nio.file.Paths.get(t.root).getParent).distinct.foreach(Lane.deleteTree)
    Main.log("layer pass done")

    val work = tr.workBySpan()
    val self = tr.selfMs()
    val byName = tr.allSpans.groupBy(_.name)
    def calls(n: String): Int = byName.get(n).map(_.size).getOrElse(0)
    def wall(n: String): Double = byName.get(n).map(_.map(_.ms).sum).getOrElse(0.0)
    def wk(n: String): Work = {
      val t = Work()
      byName.getOrElse(n, Nil).foreach(s => work.get(s.id).foreach(t.add))
      t
    }
    // per-call means of the chosen counters of layer `n`
    def layer(n: String, counters: String*): Map[String, Double] = {
      val k = wk(n)
      val all = Map("wall_ms" -> wall(n), "cpu_ms" -> k.cpuNs / 1e6,
        "bytes_read" -> k.bytesRead.toDouble, "bytes_written" -> k.bytesWritten.toDouble,
        "shuffle_bytes" -> k.shuffleWritten.toDouble, "jobs" -> k.jobs.toDouble)
      counters.map(c => s"$n.$c" -> all(c) / math.max(1, calls(n))).toMap
    }
    val batches = math.max(1.0, calls("batch").toDouble)
    val layeredAdj = byName.getOrElse("batch", Nil)
      .map(s => HostSpeed.adjust(s.ms, s.startMs, s.endMs))
    val metrics = Map(
      "stream.source_rows_per_event" -> lp.inputRows.toDouble / b.events,
      "stream.nonmerge_ms_per_batch" -> mean(lp.nonMergeMs),
      "stream.jobs_per_batch" -> mean(lp.jobsPerBatch),
      "trace.overhead_pct" -> (Stats.pct(b.batchAdj, 50) / aroundBMs - 1) * 100,
      "trace.layered_vs_tailer_pct" -> (Stats.pct(layeredAdj, 50) / untracedMs - 1) * 100) ++
      layer("stream.read", "wall_ms", "bytes_read") ++
      layer("cdc.lww", "wall_ms", "cpu_ms", "shuffle_bytes", "jobs") ++
      layer("cdc.normalize", "wall_ms", "cpu_ms") ++
      layer("lake.merge", "wall_ms", "cpu_ms", "bytes_read", "bytes_written", "shuffle_bytes",
        "jobs") ++
      layer("lake.lookup", "wall_ms") ++
      Map(
        "cdc.keep_ratio" -> counts("deduped") / math.max(1.0, counts("events")),
        "lake.merge.touched_buckets" -> counts("touched_buckets") / batches,
        "lake.merge.write_amp" -> wk("lake.merge").recordsWritten / math.max(1.0, counts("src_rows")),
        "lake.lookup.files_read" -> lookups.map(_._1).sum.toDouble / lookups.size,
        "lake.lookup.rows_scanned_per_result" ->
          lookups.map(_._2).sum.toDouble / math.max(1, lookups.map(_._3).sum),
        "lake.table_files" -> tableFiles,
        "trace.batch_self_ms" -> byName.getOrElse("batch", Nil).map(s => self(s.id)).sum / batches)
    val summary: Map[String, Any] = byName.map { case (n, ss) =>
      n -> Map("calls" -> ss.size, "wall_ms" -> ss.map(_.ms).sum,
        "self_ms" -> ss.map(s => self(s.id)).sum, "cpu_ms" -> wk(n).cpuNs / 1e6,
        "jobs" -> wk(n).jobs)
    }
    val passes = Map("batch_ms_p50_adj" -> Map("a0" -> lp.a0Ms, "b" -> Stats.pct(b.batchAdj, 50),
      "a" -> untracedMs, "c" -> Stats.pct(layeredAdj, 50)))
    TraceOut(metrics, errors.toSeq,
      attempted = b.progress.size + b.leadIn.size + calls("batch") + lookups.size,
      failed = lookupErrors.size.toLong, spanSummary = summary ++ Map("passes" -> passes))
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
