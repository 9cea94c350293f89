package perfbench

import graft.cdc.{Dedupe, Normalize}
import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.model.Model
import graft.stream.Tailer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.mutable

/** What a timed pass measured: the progress of each timed micro-batch and
  * its events and log files, in commit order. The lead-in batches ran
  * first in the same streaming query and are not timed: they are warm-up.
  */
final case class Timed(progress: Seq[StreamingQueryProgress], batchEvents: Seq[Long],
                       batches: Seq[Seq[Path]], writtenBytes: Long, errors: Seq[String],
                       lane: Lane, leadIn: Seq[StreamingQueryProgress] = Nil,
                       leadInBatches: Seq[Seq[Path]] = Nil, leadInEvents: Long = 0L) {
  def events: Long = batchEvents.sum
  /** Events of every batch that wrote `writtenBytes`, the lead-in included. */
  def writtenEvents: Long = events + leadInEvents
  def batchMs: Seq[Double] = progress.map(Lane.triggerMs)
  /** Batch walls scaled by the host speed (see [[HostSpeed]]). */
  def batchAdj: Seq[Double] = progress.map(Timed.adj)
  /** Raw and host-speed-adjusted wall of the lead-in batches together. */
  def leadInMs: Double = leadIn.map(Lane.triggerMs).sum
  def leadInAdj: Double = leadIn.map(Timed.adj).sum
  /** This pass followed by `o`, ending on `o`'s lane. */
  def ++(o: Timed): Timed = Timed(progress ++ o.progress, batchEvents ++ o.batchEvents,
    batches ++ o.batches, writtenBytes + o.writtenBytes, errors ++ o.errors, o.lane,
    leadIn ++ o.leadIn, leadInBatches ++ o.leadInBatches, leadInEvents + o.leadInEvents)
}

object Timed {
  def adj(p: StreamingQueryProgress): Double = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val ms = Lane.triggerMs(p)
    HostSpeed.adjust(ms, start, start + ms.toLong)
  }
}

/** Raw and host-speed-adjusted latencies of the lookups that answered
  * correctly, and the errors of the others.
  */
final case class Lookups(ms: Seq[Double], adj: Seq[Double], errors: Seq[String])

/** A generated log, staged outside any watched directory: its files in
  * seq order, the events in each file and the keys each file touches.
  */
final case class Staged(files: Seq[Path], events: Map[Path, Long],
                        keys: Map[Path, IndexedSeq[(String, String)]]) {
  def eventsIn(fs: Seq[Path]): Long = fs.map(events).sum
  def keysIn(fs: Seq[Path]): IndexedSeq[(String, String)] = fs.flatMap(keys).distinct.toIndexedSeq
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val cores: Int) {
  private var lanes = 0
  def newLane(tag: String): Lane = {
    lanes += 1
    new Lane(work.resolve(s"lane$lanes-$tag"))
  }
  val rng = new scala.util.Random(seed)
}

/** A benchmark workload: a generated log, a lane set-up (initial load and
  * warm-up) and a timed pass. The traced run replays the timed batches one
  * layer call at a time.
  */
trait Workload {
  def name: String
  def generate(ctx: Ctx): Staged
  /** Load and warm `lane` so the timed pass measures steady state. */
  def setUp(ctx: Ctx, st: Staged, lane: Lane): Unit
  /** Apply the timed part; `lane` comes from [[setUp]]. */
  def timed(ctx: Ctx, st: Staged, lane: Lane): Timed
  /** The table the traced run's layer-at-a-time replay applies batch `i`
    * of a timed pass to (lead-in batches first), in the state the timed
    * pass's batch `i` found its table in. `setUpLane` has just been
    * through [[setUp]] and not yet [[timed]].
    */
  def layeredTarget(ctx: Ctx, st: Staged, setUpLane: Lane): Int => LakeTable
}

object Workloads {
  val all: Seq[Workload] = Seq(TailCow, BackfillBulk)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Bucket count of every table (the engine's bench configuration). */
  val buckets = 64
  /** Closed-loop point lookups made on the table a timed pass leaves. */
  val lookupsAfter = 40

  /** Write the log of `cfg` as `cfg.nFiles` equal seq ranges, one file
    * each, with increasing modification times, so the file source takes
    * them in seq order. Events come from the engine's own generator
    * functions, so they are the events `ChangeLogGen.events` produces.
    */
  def stage(ctx: Ctx, cfg: ChangeLogGen.GenConfig): Staged = {
    val dir = ctx.work.resolve("staged")
    val cdf = ChangeLogGen.zipfCdf(cfg.repos, cfg.zipfS)
    val n = cfg.nEvents
    val nf = cfg.nFiles
    def lo(i: Int): Long = n * i / nf
    val seen = mutable.HashSet.empty[(String, String)]
    val firsts = mutable.HashSet.empty[Long]
    val keysOf = Array.fill(nf)(mutable.LinkedHashSet.empty[(String, String)])
    (0 until nf).foreach { i =>
      (lo(i) until lo(i + 1)).foreach { seq =>
        val sk = ChangeLogGen.skeleton(cfg, cdf, seq)
        if (seen.add((sk.repo, sk.path))) firsts += seq
        keysOf(i) += ((sk.repo, sk.path))
      }
    }
    val sc = ctx.spark.sparkContext
    val cfgB = sc.broadcast(cfg)
    val cdfB = sc.broadcast(cdf)
    val firstB = sc.broadcast(firsts.toSet)
    import ctx.spark.implicits._
    sc.parallelize(0 until nf, nf).flatMap { i =>
      (n * i / nf until n * (i + 1) / nf).iterator.map { seq =>
        val sk = ChangeLogGen.skeleton(cfgB.value, cdfB.value, seq)
        ChangeLogGen.eventFor(cfgB.value, sk, firstB.value.contains(seq))
      }
    }.toDS().write.parquet(dir.toString)
    Seq(cfgB, cdfB, firstB).foreach(_.destroy())
    val files = Lane.logFiles(dir)
    require(files.size == nf, s"generator wrote ${files.size} files, wanted $nf")
    val t0 = System.currentTimeMillis - nf * 1000L
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + i * 1000L))
    }
    Staged(files,
      files.zipWithIndex.map { case (f, i) => f -> (lo(i + 1) - lo(i)) }.toMap,
      files.zipWithIndex.map { case (f, i) => f -> keysOf(i).toIndexedSeq }.toMap)
  }

  /** Closed-loop point lookups on random `keys`. A lookup spans only a few
    * of the probe's samples, so every lookup is scaled by the host speed
    * over all `n` of them.
    */
  def lookups(ctx: Ctx, table: LakeTable, keys: IndexedSeq[(String, String)],
              n: Int): Lookups = {
    val t0 = System.currentTimeMillis
    val got = (0 until n).map { _ =>
      val (r, p) = keys(ctx.rng.nextInt(keys.size))
      lookupOnce(ctx.spark, table, r, p)
    }
    val speed = HostSpeed.mean(t0, System.currentTimeMillis)
    val ms = got.collect { case Right(ms) => ms }
    Lookups(ms, ms.map(_ * speed), got.collect { case Left(e) => e })
  }

  /** One lookup: at most one row, and only the key asked for. */
  def lookupOnce(spark: SparkSession, table: LakeTable, repo: String, path: String,
                 onDf: (DataFrame, Int) => Unit = (_, _) => ()): Either[String, Double] = try {
    val t0 = System.nanoTime
    val df = table.lookup(spark, repo, path)
    val rows = df.collect()
    val ms = (System.nanoTime - t0) / 1e6
    onDf(df, rows.length)
    if (rows.length > 1) Left(s"lookup($repo,$path) returned ${rows.length} rows")
    else if (rows.exists(r => r.getAs[String]("repo") != repo || r.getAs[String]("path") != path))
      Left(s"lookup($repo,$path) returned another key")
    else Right(ms)
  } catch { case scala.util.control.NonFatal(e) => Left(s"lookup($repo,$path) failed: $e") }

  /** Release `files` into `lane` and drain them `maxFiles` per micro-batch;
    * the first `leadIn` batches of the query are warm-up, not timed.
    */
  def drainTimed(ctx: Ctx, st: Staged, lane: Lane, files: Seq[Path],
                 maxFiles: Option[Int], leadIn: Int = 0): Timed = {
    val before = lane.lastBatchId
    val bytesBefore = lane.tableBytes()
    lane.release(files)
    val all = lane.drain(ctx.spark, maxFiles).filter(_.batchId > before).sortBy(_.batchId)
    val (lead, ps) = all.splitAt(leadIn)
    val batchOf = lane.batchOfFile()
    val missing = files.count(f => !batchOf.contains(f.getFileName.toString))
    val filesOf = files.groupBy(f => batchOf.getOrElse(f.getFileName.toString, -1L))
    val batches = ps.map(p => filesOf.getOrElse(p.batchId, Nil))
    val leadBatches = lead.map(p => filesOf.getOrElse(p.batchId, Nil))
    Timed(ps, batches.map(st.eventsIn), batches, lane.tableBytes() - bytesBefore,
      if (missing == 0) Nil else Seq(s"$missing released files never committed"), lane,
      lead, leadBatches, leadBatches.map(st.eventsIn).sum)
  }

  /** Apply `files` as one batch, one public layer call at a time, each in
    * a span; every layer's output is persisted before the next layer
    * runs, so no span recomputes the layer before it.
    */
  def applyLayered(spark: SparkSession, tr: Tracer, table: LakeTable, files: Seq[Path],
                   counts: mutable.Map[String, Double]): Unit =
    tr.span("batch") {
      val raw = tr.span("stream.read") {
        val df = spark.read.schema(Model.changeLogSchema).parquet(files.map(_.toString): _*)
          .select("repo", "path", "seq", "op", "schema_id", "ts", "payload").persist()
        counts("events") += df.count()
        df
      }
      val maxKeys = scala.util.Try(spark.conf.get(
        "spark.graft.lww.broadcastMaxKeys").toLong).getOrElse(1000000L)
      val winners = tr.span("cdc.lww") {
        val df = Dedupe.lwwBroadcast(raw, Seq("repo", "path"), "seq", maxKeys).persist()
        counts("deduped") += df.count()
        df
      }
      val normalized = tr.span("cdc.normalize") {
        val df = Normalize(winners).select(Tailer.mergeCols.map(col): _*).persist()
        df.count()
        df
      }
      val stats = tr.span("lake.merge") {
        table.merge(spark, normalized, table.head().lastBatchId + 1, updateColumns = None,
          retries = 3, srcKeyUnique = true)
      }
      counts("touched_buckets") += stats.touchedBuckets
      counts("src_rows") += stats.srcRows
      Seq(raw, winners, normalized).foreach(_.unpersist(blocking = true))
    }
}

/** Many small micro-batches, one log file each, into a copy-on-write table
  * that already holds a wide key space: each batch changes few of the
  * table's keys but touches every bucket.
  */
object TailCow extends Workload {
  val name = "tail_cow"
  val fileEvents = 1000L
  val baseFiles = 5
  /** Batches at the head of the timed query that are not timed: the first
    * batch of a streaming query is much slower than the ones after it.
    */
  val leadInFiles = 1
  def timedFiles(seconds: Int): Int = math.max(2, seconds / 2)

  def generate(ctx: Ctx): Staged = {
    val n = baseFiles + leadInFiles + timedFiles(ctx.seconds)
    Workloads.stage(ctx, ChangeLogGen.GenConfig(seed = ctx.seed, nEvents = n * fileEvents,
      nRepos = 1024, pathsPerRepo = 64, zipfS = 0.5, nFiles = n))
  }
  def setUp(ctx: Ctx, st: Staged, lane: Lane): Unit = {
    lane.release(st.files.take(baseFiles))
    lane.drain(ctx.spark, None)
    Workloads.lookups(ctx, lane.table, st.keysIn(st.files.take(baseFiles)), 5)
  }
  def timed(ctx: Ctx, st: Staged, lane: Lane): Timed =
    Workloads.drainTimed(ctx, st, lane, st.files.drop(baseFiles), Some(1), leadIn = leadInFiles)
  /** A copy of the set-up table, which every batch grows, as in [[timed]]. */
  def layeredTarget(ctx: Ctx, st: Staged, setUpLane: Lane): Int => LakeTable = {
    val root = ctx.newLane("c").tableRoot
    Lane.copyTree(Paths.get(setUpLane.tableRoot), Paths.get(root))
    val table = LakeTable.open(root)
    _ => table
  }
}

/** The bulk backfill shape: a hot key space drained as one batch into an
  * empty table, repeated into fresh tables. 32 repos of 64 paths under the
  * generator's default Zipf skew keep about 3% of the events, as the
  * default key space does for the engine's 1M-event bench log.
  */
object BackfillBulk extends Workload {
  val name = "backfill_bulk"
  val events = 50000L
  val files = 16
  def reps(seconds: Int): Int = math.max(2, (seconds + 1) / 3)

  def generate(ctx: Ctx): Staged =
    Workloads.stage(ctx, ChangeLogGen.GenConfig(seed = ctx.seed, nEvents = events, nRepos = 32,
      nFiles = files))
  /** Two whole backfills: the first backfill after the first one is still
    * much slower than the ones after it.
    */
  def setUp(ctx: Ctx, st: Staged, lane: Lane): Unit = {
    val first = ctx.newLane("warm")
    first.release(st.files)
    first.drain(ctx.spark, None)
    Lane.deleteTree(first.dir)
    lane.release(st.files)
    lane.drain(ctx.spark, None)
    Workloads.lookups(ctx, lane.table, st.keysIn(st.files), 5)
  }
  def timed(ctx: Ctx, st: Staged, warmed: Lane): Timed = {
    Lane.deleteTree(warmed.dir)
    (1 to reps(ctx.seconds)).map { i =>
      val lane = ctx.newLane(s"rep$i")
      val t = Workloads.drainTimed(ctx, st, lane, st.files, None)
      if (i < reps(ctx.seconds)) Lane.deleteTree(lane.dir)
      t
    }.reduce(_ ++ _)
  }
  /** A fresh, empty table per batch, as in [[timed]]. */
  def layeredTarget(ctx: Ctx, st: Staged, setUpLane: Lane): Int => LakeTable =
    i => LakeTable(ctx.newLane(s"c$i").tableRoot, Workloads.buckets)
}

object Stats {
  /** Nearest-rank percentile; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  /** Highest whole percentile that still has at least ten samples above it. */
  def tailPct(n: Int): Int = if (n < 20) 0 else math.floor(100.0 * (n - 10) / n).toInt
}

