package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.NetAction

/** The CDC merge engine: turns a micro-batch of change events into the
  * minimal set of per-key net effects. [[CdcApply]] appends them as
  * delta files (one per epoch scanned in one task, else one per
  * bucket); [[graft.table.MorRead]] applies them to the base rows at
  * read time.
  *
  * Semantics reproduced from the reference connector (SURVEY.md §2.A):
  *  - per-key sequential application in offset order
  *    (`/root/reference/src/main/java/io/confluent/connect/jdbc/sink/BufferedRecords.java:84-234`
  *    — its buffer/flush gymnastics exist only because it executes
  *    unordered SQL batches; the net effect is a per-key ordered fold),
  *  - UPSERT = delete+insert keyed by (conv_id, turn_idx)
  *    (`.../sink/BufferedRecords.java:294-324`, README.md:139-150),
  *  - UPDATE affects only existing rows; unmatched updates are dropped
  *    (`.../dialect/GenericDatabaseDialect.java:998-1019`,
  *     `.../sink/JdbcDbWriterTest.java:2189-2413`),
  *  - tombstone DELETE keyed by the (possibly coarser) delete key:
  *    turn_idx == null ⇒ series delete of the whole conversation
  *    (README.md:126-137).
  *
  * Scale design: the fold is ONE exchange on (conv_id, turn_idx) and ONE
  * sort of the batch by offset inside each key, read by one Window pass
  * (`row_number` for the key's last event, a full-frame max for its
  * anchor); each key group is buffered once. Hashing on both key
  * columns spreads a hot conversation (Zipf skew) over its turns. This
  * is what replaces the reference's in-memory buffer at 10^10-event
  * scale.
  *
  * A batch whose scan plans to ONE task ([[plansOneTask]]: about one
  * small file, the shape of a tailing micro-batch) skips every exchange
  * instead: CdcApply and EventLogApply coalesce it to one partition, so
  * the fold's key exchange, the delta write's and event-log append's
  * `rebalance` and the planning/wipe aggregates' exchanges all drop out
  * (`SinglePartition` satisfies every clustered distribution) and each
  * of the epoch's jobs runs as the one task that scans the batch.
  * Spreading one task's rows over an exchange only to gather them back
  * costs shuffle bytes and tasks per epoch and parallelizes nothing.
  *
  * Order authority: `offset` (strictly increasing per log partition;
  * a conversation is keyed to one partition, so per-key offsets are
  * totally ordered — the Connect delivery contract). Duplicate delivery
  * of the same offset is naturally idempotent: `row_number` picks one of
  * two identical rows.
  */
object MergeEngine {

  /** Physical bucket of a conversation — delegates to the IceLite layout
    * definition (reference analogue: hash partitioning DDL,
    * `distributionattributes`, `.../dialect/PostgreSqlDatabaseDialect.java:208-232`).
    */
  def bucketOf(convId: Column, numBuckets: Int): Column =
    graft.table.IceLite.bucketOf(convId, numBuckets)

  /** Columns of the transcript row struct, in table order. */
  val turnCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  // ---------------------------------------------------------------------
  // Validation (reference RecordValidator, `.../sink/RecordValidator.java:44-117`
  // and null-key binder checks `.../sink/PreparedStatementBinder.java:174-196`).
  // Invalid records are quarantined with an error + lineage, the rest of
  // the batch proceeds (errant-record-reporter semantics,
  // `.../sink/JdbcSinkTaskTest.java:324-492`).
  // ---------------------------------------------------------------------
  /** Adds a nullable `_error` column (null = valid). A `_extract_error`
    * column (attached by CdcApply's ingest-time extraction: cast failure,
    * unmatched payload schema) is folded in and dropped.
    */
  def tagErrors(events: DataFrame, deleteEnabled: Boolean = true): DataFrame = {
    val base0 = when(col("conv_id").isNull, "null key")
      .when(!col("op").isin("insert", "update", "upsert", "delete"), "unknown op")
      .when(col("op") =!= "delete" && col("after").isNull, "null value for non-tombstone")
      .when(col("op") =!= "delete" && col("turn_idx").isNull, "null upsert-key field turn_idx")
    val hasExtract = events.columns.contains("_extract_error")
    val base = if (hasExtract) base0.when(col("_extract_error").isNotNull, col("_extract_error")) else base0
    val err =
      if (deleteEnabled) base.otherwise(null)
      else base.when(col("op") === "delete", "tombstone with delete.enabled=false").otherwise(null)
    val tagged = events.withColumn("_error", err)
    if (hasExtract) tagged.drop("_extract_error") else tagged
  }

  /** Latest series-delete offset per conversation in this batch.
    * Only the max matters: a series delete at offset D makes every prior
    * event of the conversation irrelevant (state is known-Absent at D),
    * so intermediate wipes are subsumed. Tiny output — broadcastable.
    */
  def seriesWipes(events: DataFrame): DataFrame =
    events.filter(col("op") === "delete" && col("turn_idx").isNull)
      .groupBy("conv_id")
      .agg(max("offset").as("wipe_off"))

  /** True when `batch` plans to at most one task with no exchange: its
    * physical plan holds no exchange, no subquery and no adaptive node,
    * and either reports a single output partition or reads ONE leaf —
    * a file scan, an RDD scan (a streaming micro-batch) or a local
    * relation — of at most one partition. Spark's file-split rule puts a
    * file scan in one task only for about one file of at most
    * `spark.sql.files.openCostInBytes` (4 MB) or one row group, i.e. a
    * small batch, so this adds no knob.
    *
    * Decided on the driver from the planned scan and never starts a
    * Spark job: the leaf partition counts are read off RDDs the scan
    * builds lazily, and any plan that would need an adaptive query stage
    * (an exchange) or a subquery answers false before anything runs.
    * Batches derived from joins (Mirror, IncrementalView, Scd2History)
    * hold an exchange and so keep the multi-task plan.
    */
  def plansOneTask(batch: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = batch.queryExecution.executedPlan
    val narrow = !plan.exists(p => p.isInstanceOf[Exchange] ||
      p.isInstanceOf[AdaptiveSparkPlanExec] || p.subqueries.nonEmpty)
    def leafTasks: Int = plan.collectLeaves() match {
      case Seq(f: FileSourceScanExec) => f.inputRDD.getNumPartitions
      case Seq(r: RDDScanExec)        => r.rdd.getNumPartitions
      case Seq(l: LocalTableScanExec) => l.inputRDD.getNumPartitions
      case _                          => Int.MaxValue
    }
    narrow && (plan.outputPartitioning == SinglePartition || leafTasks <= 1)
  }

  /** Per-(conv_id, turn_idx) net action of the batch.
    *
    * Derivation (provably order-equivalent to the sequential per-key fold,
    * pinned by ReplayEquivalenceSpec): after discarding events at or
    * before the conversation's last series wipe D,
    *  - the ANCHOR is the turn's last non-update event (insert/upsert/
    *    delete). It fully determines existence: a later update only
    *    changes values, never existence;
    *  - anchor = delete            ⇒ Del (updates after a delete drop);
    *  - anchor = insert/upsert     ⇒ Put(last update after anchor, else anchor row);
    *  - no anchor, no wipe         ⇒ UpdateIfExists(last update) — existence
    *    is decided by the base rows at read time;
    *  - no anchor, wiped           ⇒ Del (state was known-Absent).
    *
    * Output: (conv_id, turn_idx, action, row struct, src_offset,
    * src_partition) — one row per touched key, plus one [[NetAction.Wipe]]
    * marker per wiped conversation (turn_idx and row null, lineage of its
    * last series delete).
    */
  def netActions(events: DataFrame): DataFrame =
    netActions(events, broadcast(seriesWipes(events)))

  /** As above, with a pre-computed wipe set ([[seriesWipes]] of the same
    * events). The caller decides whether to broadcast it (CdcApply does,
    * below its bulk-delete threshold); an unhinted wipe set joins by
    * shuffle, and AQE still broadcasts it at runtime if it is actually
    * small.
    *
    * Series deletes ride the fold: they stay in the window stream (the
    * wipe filter keeps every turn_idx-null row), so each wiped
    * conversation's (conv_id, null) group folds like any key and its last
    * row becomes the conversation's Wipe marker — the wipe set's only
    * consumer is this join.
    *
    * Physical shape: ONE exchange on the grouping key, ONE sort of the
    * payload-bearing batch, one Window pass, no aggregation. In every
    * branch of the derivation the winning VALUE is the after-image of the
    * key's LAST event (anchor last ⇒ anchor row; updates after a live
    * anchor, or updates only ⇒ last update; anchor = delete ⇒ row forced
    * null), so a window over (key ORDER BY offset DESC) computes every
    * winner in one pass over rows sorted once —
    *  - `row_number() = 1`  ⇒ the key's last event (value + lineage; offset
    *    ties are duplicate deliveries of identical rows, so either pick is
    *    the same row),
    *  - `max(struct(offset, op)) filtered to non-updates` over the full
    *    frame ⇒ the anchor (struct ordering compares offset first; ties
    *    again only between identical duplicates),
    *  - `wipe_off` is constant within a key (it joins on conv_id), so the
    *    surviving row carries it.
    * The exchange carries raw rows: re-delivered duplicates are not
    * collapsed before it.
    *
    * `bucketed = Some(n)`: BUCKET-ALIGNED fold. The batch is exchanged
    * ONCE onto the table's bucket key (`bucketOf(conv_id) % n`) before
    * the fold, the window partitions on (bucket, key) — HashPartitioning(
    * bucket) satisfies its ClusteredDistribution because bucket is a
    * prefix of the partition spec — and the output carries `bucket`,
    * already laid out for a per-bucket delta write with NO further
    * exchange. The payload crosses the wire exactly once per epoch
    * (key-aligned plans cross twice: fold exchange + write
    * redistribution); see MergeSpec.foldAlignment.
    *
    * A one-partition `events` ([[plansOneTask]], coalesced by the
    * caller) plans no exchange at all with `bucketed = None`: the window
    * sorts the single partition in place.
    */
  def netActions(events: DataFrame, wipes: DataFrame,
                 bucketed: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val turnEvents0 = events
      .filter(col("turn_idx").isNotNull || col("op") === "delete")
      .join(wipes, Seq("conv_id"), "left")
      .filter(col("turn_idx").isNull || col("offset") > coalesce(col("wipe_off"), lit(Long.MinValue)))
    // repartition AFTER the wipe join: a bulk (non-broadcast) wipe join
    // exchanges on conv_id anyway; aligning before it would add a third
    // payload crossing instead of removing one
    val turnEvents = bucketed match {
      case Some(n) => turnEvents0
        .withColumn("bucket", bucketOf(col("conv_id"), n))
        .repartition(n, col("bucket"))
      case None => turnEvents0
    }
    val groupCols = bucketed.map(_ => "bucket").toSeq ++ Seq("conv_id", "turn_idx")

    // both specs share partition + order, so they plan into ONE Window
    // node over ONE sort; the unbounded-frame max is evaluated once per
    // key group (UnboundedWindowFunctionFrame), not once per row.
    // The anchor struct is projected BEFORE the window calls: a complex
    // window-function argument would be extracted into a Project between
    // the two Window nodes, and CollapseWindow only merges ADJACENT
    // nodes — with the plain column both functions land in one
    // WindowExec, so each group's rows are buffered once, not twice.
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("offset").desc)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    turnEvents
      .withColumn("_anc", when(col("op") =!= "update",
        struct(col("offset").as("off"), col("op").as("op"))))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_a", max(col("_anc")).over(wAll))
      .filter(col("_rn") === 1)
      .select(
        (bucketed.map(_ => col("bucket")).toSeq ++ Seq(
        col("conv_id"),
        col("turn_idx"),
        when(col("turn_idx").isNull, NetAction.Wipe)
          .when(col("_a").isNull && col("wipe_off").isNull, NetAction.UpdateIfExists)
          .when(col("_a").isNull, NetAction.Del)
          .when(col("_a.op") === "delete", NetAction.Del)
          .otherwise(NetAction.Put)
          .as("action"),
        when(col("_a").isNotNull && col("_a.op") === "delete", lit(null))
          .otherwise(col("after"))
          .as("row"),
        // lineage of the winning version (the reference's optional kafka
        // coordinate columns, `.../sink/JdbcSinkConfig.java:52-59`)
        col("offset").as("src_offset"),
        col("partition").as("src_partition"))): _*)
  }
}
