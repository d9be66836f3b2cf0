package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.NetAction

/** Merge-on-read: folds a table's base rows with its outstanding delta
  * files (per-batch net actions + series wipes) into the current state.
  *
  * This is the read half of the reference's O(changes)-per-batch DML
  * (`/root/reference/src/main/java/io/confluent/connect/jdbc/sink/BufferedRecords.java:294-336`):
  * the write path appends one folded action row per touched key per
  * commit (sequence number `seq` = the committing snapshot version, base
  * rows rank as seq 0), and the reader resolves, per (conv_id, turn_idx):
  *
  *  - the EXISTENCE anchor: the highest-seq Put/Del — Del ⇒ row gone,
  *    Put ⇒ row present, none ⇒ key never existed;
  *  - the VALUE: the highest-seq row-carrying action (Put or
  *    UpdateIfExists). An UpdateIfExists is only the value winner when it
  *    out-sequences the anchor Put, and the write path only emits an
  *    UpdateIfExists action when the key was not created in its own batch
  *    — so a value-winning update was necessarily applied while the key
  *    existed (no Del can sit between the anchor Put and a higher-seq
  *    update, or it would itself be the anchor);
  *  - series wipes: a wipe row (turn_idx null) at seq W discards every
  *    row of the conversation with seq < W. Same-commit actions carry
  *    seq == W and survive by construction (the batch fold already
  *    dropped events at or before the wipe offset).
  *
  * One fold ([[fold]]) serves every read. The deltas fold once per key
  * and per wiped conversation ([[foldActions]]); the base rows stream
  * past that fold in one outer join, never sorted, aggregated or
  * shuffled, and the anchor Puts are unioned in from the fold. Read
  * amplification is O(deltas) sorted plus one scan of the base, NOT
  * O(touched bucket) sorted. Only where the fold and the join run
  * differs ([[Placement]]):
  *
  *  - in one task — a read that names exactly ONE bucket (point lookups,
  *    per-bucket compaction; [[mergedInBucket]]). A bucket holds every
  *    row of its keys, so the base and delta scans are coalesced to one
  *    partition and the join is a hash join built on the fold — no
  *    exchange, no broadcast job. That build cannot spill, so above
  *    [[InTaskMaxDeltaBytes]] of deltas the read takes the exchange
  *    placement instead;
  *  - the fold in one task, broadcast — a multi-bucket read ([[merged]])
  *    whose delta files total at most the session's broadcast threshold
  *    (`spark.sql.autoBroadcastJoinThreshold`; ≤ 0 disables it), the
  *    size under which the planner would broadcast the fold anyway. The
  *    delta scan is coalesced to one partition and folded there with no
  *    exchange; the base rows stream multi-task past its broadcast. The
  *    anchor Puts re-scan and re-fold the deltas in one more task, since
  *    no exchange is left for them to reuse;
  *  - on an exchange — any other multi-bucket read, the feed
  *    roll-forward ([[foldState]]) and the over-gate one-bucket read,
  *    the join placed by the planner. The fold's exchange on `conv_id`
  *    is the only exchange over the deltas (the anchor Puts reuse it);
  *    the planner broadcasts the fold when its estimated size is under
  *    the broadcast threshold, and otherwise picks a spillable join from
  *    that size, which exchanges the base rows too.
  *
  * A delta file may be shared: a one-task epoch writes one file listed
  * under every bucket its rows hash to, and compaction drops a bucket's
  * listing once its base holds those rows. A read keeps from such a file
  * only the rows of the read buckets that still list it
  * ([[IceLite.BucketFiles]]), before the fold — and, in one task, before
  * the coalesce.
  *
  * A key predicate on the result reaches every base and delta scan:
  * the join infers it for the fold, and the anchor Puts take their key
  * from the fold's grouping columns. Delta files are scanned from the
  * snapshot's file list, with no listing job ([[IceLite.readFiles]]). The reference analogue: reads against an
  * indexed table never rescan it (reference `README.md:19-24`);
  * Iceberg's equality-delete reads stream the data files past the
  * delete keys the same way.
  */
object MorRead {

  /** Above this many delta BYTES in the bucket being read, a one-bucket
    * read no longer merges inside one task: the in-task hash build
    * cannot spill, so [[mergedInBucket]] lets the planner place the
    * join instead. Compaction keeps per-bucket deltas far below this;
    * the gate only matters for compaction-disabled tables.
    */
  val InTaskMaxDeltaBytes: Long = 256L << 20

  /** Physical schema of a delta file (the `row` struct uses the table
    * schema as of the writing commit; later reads widen it — missing
    * nested fields surface as nulls, ALTER-ADD semantics).
    */
  def deltaSchema(tableSchema: StructType): StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType), // null = series-wipe row
    StructField("action", StringType),
    StructField("row", tableSchema),
    StructField("seq", LongType)))

  /** Current state of a bucket subset of the table: `base` rows merged
    * with the net actions in `deltas`. Serves reads that span several
    * buckets; a one-bucket read takes [[mergedInBucket]]. Delta files
    * totalling at most the session's broadcast threshold are folded in
    * one task and broadcast; larger ones take the exchange placement.
    */
  def merged(
      spark: SparkSession,
      tableSchema: StructType,
      base: DataFrame,
      deltas: IceLite.BucketFiles): DataFrame =
    if (deltas.paths.isEmpty) base
    else {
      val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      fold(base, deltas.read(spark, deltaSchema(tableSchema)), tableSchema.fieldNames.toSeq,
        if (threshold > 0 && deltaBytes(deltas.paths) <= threshold) Placement.BroadcastFold
        else Placement.Exchange)
    }

  /** Current state of ONE bucket, merged inside a single task: `base`
    * must hold only that bucket's base rows and `deltas` only its delta
    * rows — a delta file shared with other buckets is filtered to this
    * bucket's rows by `deltas`, below the coalesce. An IceLite
    * bucket holds every row of its conversations, so nothing needs
    * redistributing. Above `maxInTaskDeltaBytes` of delta files the read
    * takes the exchange placement.
    */
  def mergedInBucket(
      spark: SparkSession,
      tableSchema: StructType,
      base: DataFrame,
      deltas: IceLite.BucketFiles,
      maxInTaskDeltaBytes: Long = InTaskMaxDeltaBytes): DataFrame =
    if (deltas.paths.isEmpty) base
    else fold(base, deltas.read(spark, deltaSchema(tableSchema)), tableSchema.fieldNames.toSeq,
      if (deltaBytes(deltas.paths) <= maxInTaskDeltaBytes) Placement.InTask else Placement.Exchange)

  /** Roll an explicit base state forward over explicit delta actions —
    * the feed consumer's primitive: given keyed state at version A and
    * the net actions committed in (A, B], produce the state at B without
    * reading it ([[graft.operators.IncrementalView]] uses this to derive
    * after-state from before-state + feed, saving a second state read).
    * `deltas` must have [[deltaSchema]] shape with `row` under
    * `tableSchema`; base rows rank at seq 0, so any delta in the range
    * supersedes them. Assumes keyed state semantics (at most one live row
    * per (conv_id, turn_idx)) — not applicable to append-only tables.
    */
  def foldState(base: DataFrame, deltas: DataFrame, tableSchema: StructType): DataFrame =
    fold(base, deltas, tableSchema.fieldNames.toSeq, Placement.Exchange)

  /** The merge of every read: base rows (one per key, seq 0) with the
    * delta actions. The deltas fold once ([[foldActions]]): one row per
    * touched key, plus one per wiped conversation. The base rows stream
    * past that fold in one outer join on `conv_id`, never sorted or
    * aggregated, matching their own key's fold row and their
    * conversation's wipe row: a base row survives unless it matches a
    * wipe row or its key has an anchor (Put/Del) — with the delta value
    * where only updates touched it. The keys whose anchor is a Put come
    * straight from the fold, whatever the base held.
    *
    * `placement` says where the fold and the join run ([[Placement]]).
    */
  private def fold(base: DataFrame, deltas: DataFrame, cols: Seq[String], placement: Placement): DataFrame = {
    val inTask = placement == Placement.InTask
    def oneTask(df: DataFrame, yes: Boolean): DataFrame = if (yes) df.coalesce(1) else df
    val folded = foldActions(oneTask(deltas, placement != Placement.Exchange))
    // an outer join + null tests, not a semi/anti join: the optimizer
    // pushes those below the base's coalesce, which would leave the
    // in-task base side multi-partition and bring exchanges back. The
    // turn test is a residual condition, so a wipe row (null turn) matches.
    val build = placement match {
      case Placement.InTask        => folded.hint("shuffle_hash")
      case Placement.BroadcastFold => broadcast(folded)
      case Placement.Exchange      => folded
    }
    val onBase = oneTask(base, inTask)
      .join(build,
        col("conv_id") === col("_f_conv") && (col("_f_turn").isNull || col("_f_turn") === col("turn_idx")),
        "left")
      .filter(col("_f_conv").isNull || (col("_f_turn").isNotNull && !col("_wiped") && col("_a_seq").isNull))
      .select(cols.map(c =>
        if (c == "conv_id" || c == "turn_idx") col(c)
        else when(col("_v_row").isNull, col(c)).otherwise(col(s"_v_row.$c")).as(c)): _*)
    val anchored = folded.filter(col("_a_action") === NetAction.Put)
      .select(cols.map(c =>
        if (c == "conv_id") col("_f_conv").as(c)
        else if (c == "turn_idx") col("_f_turn").as(c)
        else col(s"_v_row.$c").as(c)): _*)
    oneTask(onBase.union(anchored), inTask)
  }

  /** Where a read's fold and join run (the object scaladoc's three cases). */
  private sealed trait Placement
  private object Placement {
    /** Base and deltas in one task, the join a hash join built on the fold. */
    case object InTask extends Placement
    /** The deltas folded in one task and broadcast; the base multi-task. */
    case object BroadcastFold extends Placement
    /** The fold behind its exchange on `conv_id`, the join the planner's. */
    case object Exchange extends Placement
  }

  /** The read-side fold of `actions` ([[deltaSchema]] rows): one row per
    * touched key (`_f_conv`, `_f_turn`) with its existence anchor
    * (`_a_seq`, `_a_action`: the highest-seq Put or Del) and its value
    * winner (`_v_row`: the highest-seq Put or UpdateIfExists) among the
    * actions at or after its conversation's last wipe, and whether that
    * conversation was wiped (`_wiped`); plus one row per wiped
    * conversation with a null `_f_turn`. A window over each conversation
    * finds the last wipe, so the fold needs no join; it sorts by
    * (conv_id, turn_idx), which is also the order the per-key aggregation
    * needs, so the payload is sorted once — after one exchange on
    * `conv_id` where the input is partitioned, none where it is one
    * partition — and is never aggregated below the exchange. A key
    * predicate passes below it (conv_id is the window's partition key and
    * the aggregation's grouping key).
    *
    * A per-conversation window is safe on the read side. After the
    * per-commit fold, a conversation holds at most one action per turn
    * per commit plus its wipe rows; compaction bounds the outstanding
    * commits per bucket, and where it does not (a long feed range, a
    * compaction-disabled table) the window's buffer spills. The
    * write-side fold cannot lean on this: a single batch can carry a hot
    * conversation's whole burst of raw events, so it partitions by key.
    */
  private def foldActions(actions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val conv = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val aSeq = when(col("action").isin(NetAction.Put, NetAction.Del), col("seq"))
    val vSeq = when(col("action").isin(NetAction.Put, NetAction.UpdateIfExists), col("seq"))
    // the last wipe's rows survive the filter and group into the wipe
    // row. Every action has a key: the join on the fold infers that
    // filter below the exchange, and stating it here keeps the exchange
    // of the fold's other use identical, so the planner reuses it.
    actions.filter(col("conv_id").isNotNull)
      .withColumn("_wipe_seq", max(when(col("action") === NetAction.Wipe, col("seq"))).over(conv))
      .filter(col("seq") >= coalesce(col("_wipe_seq"), lit(0L)))
      .groupBy(col("conv_id").as("_f_conv"), col("turn_idx").as("_f_turn"))
      .agg(
        max(aSeq).as("_a_seq"),
        max_by(col("action"), aSeq).as("_a_action"),
        max_by(col("row"), vSeq).as("_v_row"),
        max(col("_wipe_seq")).isNotNull.as("_wiped"))
  }

  /** Total size of the delta files — driver-side metadata, runs no job. */
  private[graft] def deltaBytes(deltaPaths: Seq[String]): Long =
    deltaPaths.iterator.map { p =>
      val f = Paths.get(p)
      if (Files.exists(f)) Files.size(f) else 0L
    }.sum
}
