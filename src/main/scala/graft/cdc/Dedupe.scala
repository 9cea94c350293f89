package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-writer-wins dedupe by key + monotonic sequence — the engine's core
  * reduction (SURVEY.md A4; reference semantics: staged file overwritten per
  * id, PantherLocalWrapper.java:211-225; Solr doc replaced on re-add,
  * PhylogenesServerWrapper.java:925-931).
  *
  * Three interchangeable implementations (benchmarked against each other):
  *
  *  - [[lww]] — single `max_by(struct(*), seq)` hash aggregate. Spark's
  *    partial aggregation gives map-side combine for free, so hot keys are
  *    already pre-reduced per input partition before the shuffle.
  *  - [[lwwSalted]] — explicit two-phase: partial LWW per (key, salt) then
  *    final LWW per key. The salt (`pmod(hash(seq), S)`) spreads a hot key's
  *    residual shuffle rows over S reducers — the north-rule's salted-key
  *    repartition for Zipf-skewed repos.
  *  - [[lwwWindow]] — `row_number() over (partition by key order by seq desc)
  *    = 1`. Requires a full sort per key; kept for benchmark comparison.
  *
  * All three are deterministic for unique `seq` (ties impossible by
  * construction — seq is the WAL LSN).
  */
object Dedupe {

  /** Resolve a column by its LITERAL name (backtick-quoted, with embedded
    * backticks doubled) — `col("a.b")` parses a dotted name as a nested
    * field path, so a payload column named `meta.size` would break every
    * variant of this otherwise schema-generic API.
    */
  private def q(name: String): org.apache.spark.sql.Column =
    col("`" + name.replace("`", "``") + "`")

  /** max_by(struct(payload...), seq) per key. */
  def lww(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(q): _*)
      .agg(max_by(struct(payload.map(q): _*), q(seqCol)).as("_w"))
      .select(keys.map(q) ++ payload.map(c => col("_w").getField(c).as(c)): _*)
      .select(df.columns.map(q).toIndexedSeq: _*) // original column order
  }

  /** Two-phase salted LWW: partial reduce per (key, salt) → final per key.
    * Salt derives from `seq` so a key's events spread uniformly.
    */
  def lwwSalted(df: DataFrame, keys: Seq[String], seqCol: String, saltBuckets: Int = 16): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    val keyCols = keys.map(q)
    val salted = df.withColumn("_salt", pmod(hash(q(seqCol)), lit(saltBuckets)))
    // The groupBy's exchange hash-partitions on (key, salt) — that IS the
    // salted-key repartition, and it moves only the map-side-combined rows
    // (an explicit .repartition here would shuffle the full raw payload).
    val partial = salted
      .groupBy((keyCols :+ col("_salt")): _*)
      .agg(max_by(struct(payload.map(q): _*), q(seqCol)).as("_w"))
    partial
      .groupBy(keyCols: _*)
      .agg(max_by(col("_w"), col("_w").getField(seqCol)).as("_w"))
      .select(keyCols ++ payload.map(c => col("_w").getField(c).as(c)): _*)
      .select(df.columns.map(q).toIndexedSeq: _*)
  }

  /** Hash-aggregate LWW via the custom [[LwwAgg]] TypedImperativeAggregate:
    * same semantics as [[lww]], but planned as ObjectHashAggregateExec
    * (map-side combine, no sort) — `max_by` over a struct-of-strings buffer
    * forces SortAggregateExec, which sorts every payload byte and
    * anti-scales with cores. This is the production path.
    */
  def lwwTyped(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(q): _*)
      .agg(LwwAgg.lww(struct(payload.map(q): _*), q(seqCol)).as("_w"))
      .select(keys.map(q) ++ payload.map(c => col("_w").getField(c).as(c)): _*)
      .select(df.columns.map(q).toIndexedSeq: _*)
  }

  /** Salted two-phase variant of [[lwwTyped]] (north-rule hot-key path):
    * partial LWW per (key, salt) then final LWW per key — both phases
    * hash-based.
    */
  def lwwTypedSalted(df: DataFrame, keys: Seq[String], seqCol: String,
                     saltBuckets: Int = 16): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    val keyCols = keys.map(q)
    val partial = df
      .withColumn("_salt", pmod(hash(q(seqCol)), lit(saltBuckets)))
      .groupBy((keyCols :+ col("_salt")): _*)
      .agg(LwwAgg.lww(struct(payload.map(q): _*), q(seqCol)).as("_w"))
    partial
      .groupBy(keyCols: _*)
      .agg(LwwAgg.lww(col("_w"), col("_w").getField(seqCol)).as("_w"))
      .select(keyCols ++ payload.map(c => col("_w").getField(c).as(c)): _*)
      .select(df.columns.map(q).toIndexedSeq: _*)
  }

  /** Adaptive two-pass LWW (guide §2.3 "shuffle keys and metadata instead
    * of payloads"): pass 1 aggregates max(seq) per key over the NARROW
    * key+seq columns — a columnar source reads nothing else, and the
    * exchange moves ~40-byte rows instead of full payloads; pass 2 re-scans
    * the input and keeps exactly the winner rows via a BROADCAST join on
    * (key, seq). Events that lose never reach a shuffle or an agg buffer
    * (the single-pass [[lwwTyped]] copies the payload struct into its
    * buffer on every seq advance — O(events) copies on monotone-seq logs,
    * measured 4-8 s/1M×1.1KB events vs ~1 s here). The winners' payloads
    * ARE shuffled once: the join output keeps the input's partitioning, so
    * the `dropDuplicates(keys)` that collapses equal-(key, seq) duplicates
    * plans a hash exchange on the keys plus a SortAggregate over
    * `first(payload)` — one row per key per input partition after the
    * partial aggregate.
    *
    * Scale-adaptive: when the winner set exceeds `maxKeys` (too big to
    * broadcast — the steady-state shape for huge backfill batches) it falls
    * back to [[lwwTyped]], whose shuffle is O(map-side-combined winners).
    * Equal-(key, seq) duplicates (idempotent re-delivered writes) collapse
    * to one arbitrary row — the same contract as LwwAgg's first-seen tie.
    *
    * Null seq: a key whose every event has a null seq has a null max(seq),
    * which the equi-join on (key, seq) never matches, so the key is DROPPED.
    * [[lwwTyped]] — and hence this function above `maxKeys` — keeps such a
    * key with a null payload (and null seq). A key with at least one
    * non-null seq resolves the same way on both paths.
    */
  def lwwBroadcast(df: DataFrame, keys: Seq[String], seqCol: String,
                   maxKeys: Long = 1000000L): DataFrame = {
    val keyCols = keys.map(q)
    // eager localCheckpoint: materialized once, read by both the count
    // below and the broadcast build (blocks reclaimed by ContextCleaner)
    val winners = df.groupBy(keyCols: _*).agg(max(q(seqCol)).as(seqCol))
      .localCheckpoint()
    if (winners.count() > maxKeys) lwwTyped(df, keys, seqCol)
    else df.join(broadcast(winners), keys :+ seqCol)
      .dropDuplicates(keys)
      .select(df.columns.map(q).toIndexedSeq: _*)
  }

  /** Argmax-join variant: max(seq) per key (fixed-width buffer → pure
    * HashAggregate) then inner join back on (key, seq). Two passes over
    * the data but no wide agg buffer; kept for benchmarking.
    */
  def lwwJoin(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val winners = df.groupBy(keys.map(q): _*).agg(max(q(seqCol)).as(seqCol))
    // a re-delivered idempotent write carries an identical (key, max-seq)
    // pair and the join-back keeps BOTH copies — collapse to one row per
    // key (arbitrary among equal-seq rows, same contract as LwwAgg's
    // first-seen tie) so every variant upholds the dedupe contract
    df.join(winners, keys :+ seqCol).dropDuplicates(keys)
      .select(df.columns.map(q).toIndexedSeq: _*)
  }

  /** Window-function variant (row_number desc = 1) for benchmarking. */
  def lwwWindow(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(q): _*).orderBy(q(seqCol).desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
