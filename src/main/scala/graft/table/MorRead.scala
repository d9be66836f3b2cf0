package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Read amplification is O(deltas + touched base rows), NOT O(touched
  * bucket): base rows whose key no delta touches pass through an
  * anti-join against the (O(changes)) delta key set and are never
  * sorted, aggregated or shuffled. Two plan shapes serve reads, and both
  * fold the touched keys with the same per-conversation window plus
  * per-key aggregate ([[foldActions]]):
  *
  *  - [[mergedInBucket]] — a read that names exactly ONE bucket (point
  *    lookups, per-bucket compaction). A bucket holds every row of its
  *    keys, so the whole merge runs inside a single task: the base and
  *    delta scans are coalesced to one partition and every join is a
  *    hash join built on the delta side — no exchange, no broadcast job.
  *  - [[merged]] — reads that span several buckets (full-state scans,
  *    bucket subsets). Two delta passes: a
  *    narrow scan of the raw delta keys, broadcast once, splits the base
  *    into pass-through rows (anti-join) and touched rows (semi-join);
  *    the full delta scan and the touched rows then fold behind one
  *    exchange and one sort.
  *
  * Deltas are bounded per bucket by the compaction threshold, so both
  * hash builds are small by construction; a defensive size gate
  * ([[PrunedReadMaxDeltaBytes]]) falls back to the full fold (one
  * spillable aggregation over base ∪ deltas) — correct at any
  * scale, just the pre-pruning shuffle shape. Every shape takes
  * `conv_id`/`turn_idx` from the fold's grouping key, so a key predicate
  * on the result reaches every base and delta scan. Delta files are
  * scanned from the snapshot's file list, with no listing job
  * ([[IceLite.readFiles]]). The reference
  * analogue: reads against an indexed table never rescan it
  * (reference `README.md:19-24`); Iceberg's equality-delete reads
  * use the same anti-join-against-delete-keys shape.
  */
object MorRead {

  /** Above this many total delta BYTES (across the buckets being read),
    * the touched-key set is no longer assumed small enough to hash —
    * neither as a broadcast ([[merged]]) nor as an in-task build
    * ([[mergedInBucket]]) — and the read falls back to the full fold (one
    * aggregation over base ∪ deltas, which spills). Compaction keeps
    * per-bucket deltas far below this; the gate only matters for
    * compaction-disabled tables.
    */
  val PrunedReadMaxDeltaBytes: Long = 256L << 20

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
    * with the net actions in `deltaPaths`. Serves reads that span
    * several buckets; a one-bucket read takes [[mergedInBucket]].
    *
    * Two passes over the deltas. The first is a narrow scan of their raw
    * keys `(conv_id, turn_idx)` — a wipe row's key has a null `turn_idx`
    * — built into ONE broadcast, keyed on `conv_id` only. The base scan
    * splits against it in two: a base row that no key matches (neither
    * its own key nor a wipe of its conversation) passes through a
    * broadcast anti-join, never sorted or shuffled; a base row whose own
    * key some delta touches enters the fold through a semi-join on the
    * same broadcast. A base row of a wiped conversation that no point
    * action touches is in neither side: its seq 0 always loses to the
    * wipe. The second pass is the full delta scan, folded with the
    * touched base rows by [[foldActions]] — one exchange, one sort.
    */
  def merged(
      spark: SparkSession,
      tableSchema: StructType,
      base: DataFrame,
      deltaPaths: Seq[String],
      maxPrunedDeltaBytes: Long = PrunedReadMaxDeltaBytes): DataFrame = {
    if (deltaPaths.isEmpty) return base
    val cols = tableSchema.fieldNames.toSeq
    val deltas = IceLite.readFiles(spark, deltaSchema(tableSchema), deltaPaths)
    // driver-side metadata only: decides the plan shape, runs no job
    if (deltaBytes(deltaPaths) > maxPrunedDeltaBytes) return fullFold(base, deltas, cols)
    val keys = broadcast(deltas.select(col("conv_id").as("_k_conv"), col("turn_idx").as("_k_turn")))
    val sameConv = col("conv_id") === col("_k_conv")
    val passthrough = base
      .join(keys, sameConv && (col("_k_turn").isNull || col("_k_turn") === col("turn_idx")), "left_anti")
    // the turn test stays a residual condition (an equality here would
    // become a second join key, and so a second broadcast of the keys)
    val touched = base
      .join(keys, sameConv && coalesce(col("_k_turn") === col("turn_idx"), lit(false)), "left_semi")
    val folded = foldActions(
      touched.select(
        col("conv_id"), col("turn_idx"),
        lit(NetAction.Put).as("action"),
        struct(cols.map(col): _*).as("row"),
        lit(0L).as("seq"))
        .unionByName(deltas))
    passthrough.select(cols.map(col): _*)
      .unionByName(folded.filter(col("_a_action") === NetAction.Put).select(stateCols(cols, "_v_row"): _*))
  }

  /** Current state of ONE bucket, merged inside a single task: `base`
    * must hold only that bucket's base rows and `deltaPaths` only its
    * delta files. An IceLite bucket holds every row of its conversations,
    * so nothing needs redistributing — the base and delta scans are
    * coalesced to one partition, the fold aggregates in place, and every
    * join is a shuffle-hash join whose build side is delta-derived (both
    * sides already sit in a single partition, so the planner adds no
    * exchange, and the hints keep it from broadcasting).
    *
    * The deltas fold once per key ([[foldActions]]) and the base rows
    * stream past that fold and the wipe set in two hash joins, never
    * sorted: an untouched base row passes through, an update-only key
    * takes the delta value where its base row exists, and anchor Puts
    * come straight from the fold. Above `maxPrunedDeltaBytes` of deltas
    * the in-task hash builds are no longer assumed small and the read
    * takes the spillable full fold instead.
    */
  def mergedInBucket(
      spark: SparkSession,
      tableSchema: StructType,
      base: DataFrame,
      deltaPaths: Seq[String],
      maxPrunedDeltaBytes: Long = PrunedReadMaxDeltaBytes): DataFrame = {
    if (deltaPaths.isEmpty) return base
    if (deltaBytes(deltaPaths) > maxPrunedDeltaBytes)
      return merged(spark, tableSchema, base, deltaPaths, maxPrunedDeltaBytes)
    val cols = tableSchema.fieldNames.toSeq
    val key = Seq("conv_id", "turn_idx")
    val deltas = IceLite.readFiles(spark, deltaSchema(tableSchema), deltaPaths).coalesce(1)
    val folded = foldActions(deltas)
    val wiped = deltas.filter(col("action") === NetAction.Wipe)
      .select(col("conv_id"), lit(true).as("_wiped")).distinct()
    // Base rows: untouched ones pass through; a touched key survives here
    // only as an update-only key (no anchor) of an unwiped conversation,
    // with the delta value. Outer joins + null tests, not semi/anti
    // joins: the optimizer pushes those below the base's coalesce, which
    // would leave the base side multi-partition and bring exchanges back.
    val onBase = base.coalesce(1)
      .join(folded.withColumn("_f", lit(true)).hint("shuffle_hash"), key, "left")
      .join(wiped.hint("shuffle_hash"), Seq("conv_id"), "left")
      .filter(col("_wiped").isNull && (col("_f").isNull || col("_a_seq").isNull))
      .select(cols.map(c =>
        if (key.contains(c)) col(c)
        else when(col("_f").isNull, col(c)).otherwise(col(s"_v_row.$c")).as(c)): _*)
    // anchor Put: present with the delta value, whatever the base held
    onBase
      .union(folded.filter(col("_a_action") === NetAction.Put).select(stateCols(cols, "_v_row"): _*))
      .coalesce(1)
  }

  /** The read-side fold of both pruned shapes: one row per touched key of
    * `actions` ([[deltaSchema]] rows; base rows enter as seq-0 Puts) with
    * its existence anchor (`_a_seq`, `_a_action`: the highest-seq Put or
    * Del) and its value winner (`_v_row`: the highest-seq Put or
    * UpdateIfExists) among the actions at or after its conversation's
    * last wipe. A window over each conversation finds that wipe, so the
    * fold needs no join; it sorts by (conv_id, turn_idx), which is also
    * the order the per-key aggregation needs, so the payload is sorted
    * once — after one exchange on `conv_id` where the input is
    * partitioned, none where it is one partition. A key predicate passes
    * below it (conv_id is the window's partition key and the
    * aggregation's grouping key).
    *
    * A per-conversation window is safe on the read side. After the
    * per-commit fold, a conversation holds at most one action per turn
    * per outstanding commit, plus its wipe rows and touched base rows,
    * and compaction bounds the outstanding commits per bucket. The
    * write-side fold cannot lean on this: a single batch can carry a hot
    * conversation's whole burst of raw events, so it partitions by key.
    */
  private def foldActions(actions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val conv = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val aSeq = when(col("action").isin(NetAction.Put, NetAction.Del), col("seq"))
    val vSeq = when(col("action").isin(NetAction.Put, NetAction.UpdateIfExists), col("seq"))
    actions
      .withColumn("_wipe_seq", max(when(col("action") === NetAction.Wipe, col("seq"))).over(conv))
      .filter(col("turn_idx").isNotNull && col("seq") >= coalesce(col("_wipe_seq"), lit(0L)))
      .groupBy("conv_id", "turn_idx")
      .agg(
        max(aSeq).as("_a_seq"),
        max_by(col("action"), aSeq).as("_a_action"),
        max_by(col("row"), vSeq).as("_v_row"))
  }

  /** Total size of the delta files — driver-side metadata, runs no job. */
  private def deltaBytes(deltaPaths: Seq[String]): Long =
    deltaPaths.iterator.map { p =>
      val f = Paths.get(p)
      if (Files.exists(f)) Files.size(f) else 0L
    }.sum

  /** State columns in table order out of a folded `row` struct, the key
    * taken from the fold's grouping columns: a key predicate above the
    * fold then pushes through the aggregation into the scans below it
    * (a `row.conv_id` reference would stop it at the aggregate).
    */
  private def stateCols(cols: Seq[String], row: String): Seq[Column] =
    cols.map(c => if (c == "conv_id" || c == "turn_idx") col(c) else col(s"$row.$c").as(c))

  /** Fold an explicit base-state DataFrame with an explicit delta-action
    * DataFrame into the resulting state — the feed consumer's
    * "roll the feed forward" primitive: given keyed state at version A
    * and the net actions committed in (A, B], produce the state at B
    * without reading it ([[graft.operators.IncrementalView]] uses this to
    * derive after-state from before-state + feed, saving a second state
    * read). `deltas` must have [[deltaSchema]] shape with `row` under
    * `tableSchema`; base rows rank at seq 0, so any delta in the range
    * supersedes them. Assumes keyed state semantics (at most one live row
    * per (conv_id, turn_idx)) — not applicable to append-only tables.
    */
  def foldState(base: DataFrame, deltas: DataFrame, tableSchema: StructType): DataFrame =
    fullFold(base, deltas, tableSchema.fieldNames.toSeq)

  /** The full fold over base rows ∪ delta actions — one hash-partitioned,
    * spillable aggregation with no assumption on the size of the deltas,
    * the same shape and scale behavior as the in-batch fold (SURVEY.md
    * §2.A A5/A6). Wipes are usually rare, but can be bulk (GDPR-style
    * batch deletes): no broadcast hint, AQE broadcasts when they are few.
    */
  private def fullFold(base: DataFrame, deltas: DataFrame, cols: Seq[String]): DataFrame = {
    val wipes = deltas.filter(col("action") === NetAction.Wipe)
      .groupBy("conv_id").agg(max("seq").as("wipe_seq"))
    val all = base
      .select(
        col("conv_id"), col("turn_idx"),
        lit(NetAction.Put).as("action"),
        struct(cols.map(col): _*).as("row"),
        lit(0L).as("seq"))
      .unionByName(deltas.select("conv_id", "turn_idx", "action", "row", "seq"))

    val aSeq = when(col("action").isin(NetAction.Put, NetAction.Del), col("seq"))
    val vSeq = when(col("action").isin(NetAction.Put, NetAction.UpdateIfExists), col("seq"))

    all
      .filter(col("turn_idx").isNotNull)
      .join(wipes, Seq("conv_id"), "left")
      .filter(col("seq") >= coalesce(col("wipe_seq"), lit(0L)))
      .groupBy("conv_id", "turn_idx")
      .agg(
        max(aSeq).as("a_seq"),
        max_by(col("action"), aSeq).as("a_action"),
        max_by(col("row"), vSeq).as("v_row"))
      .filter(col("a_seq").isNotNull && col("a_action") === NetAction.Put)
      .select(stateCols(cols, "v_row"): _*)
  }
}
