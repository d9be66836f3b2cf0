package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.model.MergeSpec
import graft.table.{IceLite, IceLiteTable, SchemaEvolution}

/** Applies one batch (micro-batch or whole-log replay) of change events to
  * an IceLite transcripts table: validate → evolve schema → per-key fold →
  * APPEND the folded net actions as delta files (one file for a batch
  * scanned in one task, else one per bucket) — O(changes) per commit,
  * the reference's row-level-DML cost shape
  * (`.../sink/BufferedRecords.java:294-336`)
  * — folded into reads by [[graft.table.MorRead]], with amortized
  * compaction back to base files ([[graft.model.MergeSpec.morCompactThreshold]]).
  *
  * This is the engine's equivalent of the reference's
  * `JdbcDbWriter.write(records)` + per-put JDBC transaction
  * (`/root/reference/src/main/java/io/confluent/connect/jdbc/sink/JdbcDbWriter.java:60-84`),
  * with exactly-once obtained from idempotent epoch commits instead of
  * at-least-once + DB transactions: the snapshot property
  * `epoch:<streamId>` records the last applied batch id; a re-delivered
  * epoch is a no-op ([[graft.table.IceLiteTable.commitStaged]]).
  *
  * Per epoch the batch source is scanned by (a) ONE narrow planning
  * aggregate (per-partition offsets and counts, and the series-wipe
  * total), (b) the fold + delta write — the one full-width scan, which
  * also observes the rejected count and emits the wipe markers; when the
  * batch holds series deletes, its narrow wipe aggregate is the fold's
  * join side — and (c) a quarantine write, only when rejects were
  * observed. A streamed epoch with an event-log table scans it once more
  * for the append ([[EventLogApply]]). A batch whose scan plans to ONE
  * task runs each of these jobs in one task with no exchange
  * ([[MergeEngine.plansOneTask]]); any other batch keeps the exchange
  * plan below.
  *
  * The payload-shaping rule — which after-fields land (keys ∪ whitelist
  * ∪ the columns the spec reads), the payload rename, and the
  * after-struct projection — lives here too, for the streaming layer's
  * table creation and routed slices ([[tableStruct]], [[routedSlice]]).
  */
object CdcApply {

  final case class BatchResult(
      snapshot: IceLite.Snapshot,
      skipped: Boolean,
      rowsWritten: Long,
      eventsSeen: Long,
      rejected: Long)

  /** The result of a re-delivered batch: nothing applied. */
  private[operators] def skipped(s: IceLite.Snapshot): BatchResult = BatchResult(s, skipped = true, 0L, 0L, 0L)

  /** A concurrent writer committed between this batch's snapshot read and
    * its commit CAS (version moved or a delta seq was taken). Retried by
    * [[commitWithRestage]] up to [[MorCommitRetries]] times — the analogue
    * of the reference's DDL race retry (`.../sink/DbStructure.java:203-227`).
    */
  private final case class CommitRaced(msg: String) extends Exception(msg)

  /** Bounded re-stage+re-commit attempts after a MOR commit race. Each
    * retry re-reads the parent, re-merges the schema, and re-stages the
    * delta files under the new seq (stage dirs are per-commit UUIDs, so
    * restaging never collides). Beyond this, two writers are livelocking
    * — fail loudly like the round-4 single-writer abort did.
    */
  val MorCommitRetries: Int = 5

  /** Run `body` under `desc` as this thread's Spark job description and
    * restore the caller's on exit, so the caller's later jobs keep its
    * label. A job description is a thread-local property that a new
    * thread inherits from the thread that created it, so a pooled thread
    * carries whatever label was set when its pool grew: every engine
    * `Future` that runs Spark jobs labels itself on entry.
    */
  private[graft] def labelled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(caller)
  }

  /** Total MOR commit races retried in this JVM (observability/test hook). */
  private[graft] val morRaceRetries = new java.util.concurrent.atomic.LongAdder

  /** Above this many series tombstones in one batch, the wipe set is no
    * longer broadcast into the fold (a bulk GDPR-delete batch would
    * otherwise be a driver/executor memory hazard); the join falls back
    * to a shuffle and AQE still broadcasts if the aggregate turns out small.
    */
  val WipeBroadcastMax: Long = 100000L

  /** Apply `events` (envelope columns: partition, offset, ts, op, conv_id,
    * turn_idx, after, schema_v) to the table.
    *
    * @param epoch   (streamId, batchId) for exactly-once; None = ad-hoc batch
    * @param rejectedDir  where quarantined invalid records go (with _error
    *                     + lineage), the errant-record-reporter analogue.
    *                     Epoch-tagged batches overwrite their own epoch
    *                     partition on re-delivery (idempotent); ad-hoc
    *                     batches append (at-least-once).
    *
    *                     The committed `rejected` metric: an epoch batch
    *                     with a rejectedDir writes its quarantine before
    *                     the commit and commits the row count read from
    *                     the footers of its `_rejected_at_epoch=<id>`
    *                     files — exact. Any other batch (no epoch: its
    *                     quarantine is written after the commit; no
    *                     rejectedDir: nothing is written) commits the
    *                     count observed on the fold's scan. That count is
    *                     exact when no stage is retried; a retried stage
    *                     can over-count it, never under-count it, and a
    *                     batch with no rejects always commits 0.
    * @param auditRef write-audit-publish (B12): stage the batch's full
    *                     would-be snapshot under this audit name instead
    *                     of committing — the table pointer is untouched
    *                     until `table.publishAudit(name)`; audit queries
    *                     run on `table.readAudit`. Quarantine rows are written at
    *                     STAGE time (they are the record of the staging
    *                     act and re-staging overwrites them). Epoch
    *                     markers ride the staged snapshot and land only
    *                     at publish.
    * @param extraProps caller-supplied snapshot properties that ride the
    *                     SAME atomic commit as the batch (skipped batches
    *                     commit nothing, so they land exactly-once with
    *                     the epoch marker). Used by [[DeadLetter.replay]]
    *                     to record the consumed quarantine partitions so
    *                     a crash between commit and archive cannot
    *                     archive rows the commit never saw.
    */
  def applyBatch(
      spark: SparkSession,
      table: IceLiteTable,
      events: DataFrame,
      spec: MergeSpec = MergeSpec(),
      epoch: Option[(String, Long)] = None,
      rejectedDir: Option[String] = None,
      auditRef: Option[String] = None,
      extraProps: Map[String, String] = Map.empty): BatchResult = {
    // enum-valued spec fields fail loudly on a typo (a misspelled value
    // would otherwise silently select the fallback plan)
    require(Set("key", "bucket")(spec.foldAlignment),
      s"foldAlignment must be 'key' or 'bucket', got '${spec.foldAlignment}'")
    val shaped = shapePayload(events, spec)
    val snap0 = table.current
    warnBelowMark(snap0, epoch)
    if (snap0.applied(epoch)) return skipped(snap0)
    val schema = evolveSchema(snap0.schema, shaped, spec)

    // The scans of the header note re-read the batch source; caching the
    // tagged batch instead was measured SLOWER at bench scale (24M
    // events): building the columnar cache of the full payload costs
    // more than the narrow re-scans it saves.
    //
    // One-task epoch: a batch whose scan is one partition is coalesced
    // to it explicitly, so every job below — planning and wipe
    // aggregates, the fold's window, the delta write — plans no exchange
    // (SinglePartition satisfies each clustered distribution).
    val oneTask = MergeEngine.plansOneTask(shaped)
    val batch = if (oneTask) shaped.coalesce(1) else shaped
    val tagged = MergeEngine.tagErrors(batch, spec.deleteEnabled)
    // bucket alignment only shapes a multi-task fold's exchange; a
    // one-task fold has none to align
    val aligned = spec.foldAlignment == "bucket" && !oneTask
    val nb = snap0.numBuckets // pinned for every re-stage (commitWithRestage)

    val lineage = planningAggregate(spark, batch, spec)
    val eventsSeen = lineage.map(_.getAs[Long]("n")).sum
    val wipes = wipeJoinSide(spark, batch, spec, lineage.map(_.getAs[Long]("wipes")).sum)
    val observed = Observation()
    val deltas = foldDeltas(tagged, observed, wipes, schema, spec, nb, aligned)
    def stage(seq: Long) = stageDeltas(spark, table, deltas, nb, oneTask, rebalance = !aligned && !oneTask, seq)
    val staged = stage(snap0.version + 1)
    // epoch batches quarantine before the CAS, ad-hoc ones after it (quarantine)
    val observedRejected = rejectedCount(observed, tagged)
    val rejected =
      if (epoch.isDefined) quarantine(spark, tagged, rejectedDir, epoch, observedRejected) else observedRejected
    val committed = commitWithRestage(table, snap0, schema, staged, stage, epoch, auditRef,
      props = parent => offsetProps(parent, lineage) ++ extraProps,
      metrics = Map("eventsApplied" -> eventsSeen, "rejected" -> rejected))
    val result = committed.fold(skipped(table.current)) { case (snap, rowsWritten) =>
      if (epoch.isEmpty) quarantine(spark, tagged, rejectedDir, epoch, rejected)
      BatchResult(snap, skipped = false, rowsWritten, eventsSeen, rejected)
    }
    compact(spark, table, spec)
    result
  }

  // ---------------------------------------------------------------------
  // The phases of applyBatch, in order.
  // ---------------------------------------------------------------------

  /** A batch id BELOW the stream's high-water mark normally means
    * re-delivery of an already-committed epoch (a no-op by contract); it
    * can also mean a deleted or reset checkpoint reused against an
    * existing table with the same streamId — reprocessing requires a NEW
    * streamId, so warn.
    */
  private def warnBelowMark(snap: IceLite.Snapshot, epoch: Option[(String, Long)]): Unit =
    epoch.foreach { case (sid, bid) =>
      snap.epochs.get(sid).filter(_ > bid).foreach { last =>
        System.err.println(s"[graft] WARN epoch $bid for stream '$sid' is below the " +
          s"committed high-water mark $last — skipping. If this is a checkpoint reset " +
          s"meant to REPROCESS, use a new streamId (epochs are keyed by streamId).")
      }
    }

  /** Schema evolution (ALTER-ADD semantics, [[SchemaEvolution]] rules) of
    * `current` by the shaped batch's after-struct, plus the lineage
    * columns under `coordinates`.
    */
  private def evolveSchema(current: StructType, shaped: DataFrame, spec: MergeSpec): StructType = {
    val evolved = SchemaEvolution.evolve(current, afterStruct(shaped))
    // reference `auto.evolve=false` (JdbcSinkConfig.java:145-150 +
    // DbStructure.amendIfNecessary): a batch whose records need an
    // ALTER-ADD fails the task instead of evolving the table
    if (!spec.autoEvolve && evolved != current)
      throw new IllegalStateException(
        "auto.evolve=false: batch requires schema evolution (" +
          evolved.fieldNames.diff(current.fieldNames).mkString(", ") +
          ") — rejected, table schema unchanged")
    // kafka-coordinate lineage columns (reference `coordinates.enabled`)
    if (!spec.coordinates) evolved
    else StructType(evolved.fields.filterNot(f => f.name == "_partition" || f.name == "_offset") ++ Seq(
      StructField("_partition", IntegerType), StructField("_offset", LongType)))
  }

  /** NARROW planning aggregate (r06): per-log-partition lineage (offsets
    * advance past errant records — quarantined, not retried,
    * `.../sink/JdbcSinkTaskTest.java:324-492`) needs only (partition,
    * max_off, n) — none of which touch _error, so the scan prunes to
    * envelope columns (the round-5 form aggregated `bad` here, whose
    * _error reference dragged the FULL payload struct into this scan —
    * measured ~39s of task time per 12M-event epoch decoding text the
    * planning job never used). The rejected count rides the fold job's
    * own full-width scan as an observed metric ([[foldDeltas]]).
    *
    * The third column, `wipes`, counts the batch's valid series deletes
    * for [[wipeJoinSide]]'s gate. Only the [[wipeable]] extraction check
    * reads the payload, and only when extraction is configured.
    */
  private def planningAggregate(spark: SparkSession, batch: DataFrame, spec: MergeSpec): Array[Row] =
    labelled(spark, "cdc: planning aggregate") {
      batch.groupBy("partition").agg(max("offset").as("max_off"), count(lit(1)).as("n"),
        count(when(col("op") === "delete" && col("turn_idx").isNull && wipeable(batch, spec), true)).as("wipes"))
        .collect()
    }

  /** A delete is a series-wipe candidate iff deletes are admitted, its key
    * is sound and its payload extraction (when configured) did not fail —
    * exactly tagErrors' rule for op=delete (the after-null and turn-null
    * rules never apply to deletes).
    */
  private def wipeable(batch: DataFrame, spec: MergeSpec): Column =
    if (!spec.deleteEnabled) lit(false)
    else if (batch.columns.contains("_extract_error")) col("conv_id").isNotNull && col("_extract_error").isNull
    else col("conv_id").isNotNull

  /** The fold's wipe join side for a batch holding `n` series wipes:
    * (conv_id, wipe_off) per deleted conversation. The gate needs the
    * count BEFORE the fold plan is built (an unhinted wipe join
    * materializes the payload side into an extra shuffle even when AQE
    * later converts it to broadcast — measured, that shuffle is the
    * regression): none at 0 (an empty relation, which the optimizer
    * drops from the plan), broadcast up to [[WipeBroadcastMax]], else the
    * planner's join. [[seriesWipes]] over the [[wipeable]] rows of the
    * batch equals it over the valid events, and stays off the payload.
    */
  private def wipeJoinSide(spark: SparkSession, batch: DataFrame, spec: MergeSpec, n: Long): DataFrame =
    if (n == 0L)
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(Seq(StructField("conv_id", StringType), StructField("wipe_off", LongType))))
    else {
      val wipes = MergeEngine.seriesWipes(batch.filter(wipeable(batch, spec)))
      if (n <= WipeBroadcastMax) broadcast(wipes) else wipes
    }

  /** The delta rows of the batch: its net actions (the per-key fold of
    * the valid events, normalized to `schema`, with one wipe marker per
    * wiped conversation), each with its `bucket` of `numBuckets`.
    *
    * The rejected count is observed on the fold's scan into `observed`
    * (the fold reads the batch exactly once: no extra job, no extra
    * payload decode); [[rejectedCount]] reads it after the stage.
    *
    * Bucket-aligned actions (`aligned`, MergeSpec.foldAlignment="bucket")
    * arrive already exchanged + grouped on the bucket key and are written
    * AS IS — each task holds exactly one bucket, so the write emits one
    * delta file per touched bucket with no further exchange. Key-aligned
    * actions get their bucket here and the write-side redistribution in
    * [[stageDeltas]].
    */
  private def foldDeltas(tagged: DataFrame, observed: Observation, wipes: DataFrame, schema: StructType,
                         spec: MergeSpec, numBuckets: Int, aligned: Boolean): DataFrame = {
    val valid = tagged
      .observe(observed, sum(when(col("_error").isNotNull, 1L).otherwise(0L)).as("bad"))
      .filter(col("_error").isNull).drop("_error")
    val actions = normalize(
      MergeEngine.netActions(valid, wipes, if (aligned) Some(numBuckets) else None), schema, spec)
    if (aligned) actions.select(col("bucket"), col("conv_id"), col("turn_idx"), col("action"), col("row"))
    else actions.select(col("conv_id"), col("turn_idx"), col("action"), col("row"))
      .withColumn("bucket", MergeEngine.bucketOf(col("conv_id"), numBuckets))
  }

  /** Normalize action rows to the (possibly evolved) table schema:
    * missing columns → null, narrower types → up-cast. No-op when the
    * fold's row struct already matches the table schema exactly (the
    * steady state of every non-evolving stream): the per-row struct
    * rebuild is measurable CPU at replay scale and Catalyst does not
    * eliminate an identity CreateNamedStruct-over-GetStructField.
    */
  private def normalize(actions: DataFrame, schema: StructType, spec: MergeSpec): DataFrame = {
    // exact match only (field names, types, nullability, metadata) —
    // any mismatch falls through to the rebuilding projection
    if (!spec.coordinates && actions.schema("row").dataType == schema) return actions
    val rowFields = actions.schema("row").dataType.asInstanceOf[StructType].fieldNames.toSet
    val normRow = struct(schema.fields.toSeq.map { f =>
      (f.name match {
        case "_partition" if spec.coordinates => col("src_partition").cast(f.dataType)
        case "_offset" if spec.coordinates    => col("src_offset").cast(f.dataType)
        case n if rowFields.contains(n)       => col(s"row.$n").cast(f.dataType)
        case _                                => lit(null).cast(f.dataType)
      }).as(f.name)
    }: _*)
    actions.withColumn("row", normRow)
  }

  /** Stage the delta rows, stamped with `seq`, for the commit: ONE file
    * for a one-task epoch, listed under every bucket its rows hash to
    * (IceLiteTable.stage) — Spark's per-file write cost, not the rows,
    * dominates a micro-batch's delta write; else one file per bucket,
    * after the AQE rebalance when `rebalance` (hot buckets split, cold
    * coalesce).
    *
    * Delta files are TRANSIENT (folded into zstd'd, sorted, bloom'd base
    * files at compaction): write them LSM-L0 style — light compression,
    * no sort beyond the bucket order, no bloom. MOR readers scan a
    * touched bucket's deltas fully anyway (a bucket= dir prunes by path,
    * a one-task epoch file by its bucket column's page index), so key
    * stats/sort order buy nothing here and the zstd+sort CPU was the
    * largest block of the per-epoch profile. Rows are seq-stamped per
    * attempt: the commit CAS rejects a stolen seq, and a retry re-stages
    * under the new one.
    */
  private def stageDeltas(spark: SparkSession, table: IceLiteTable, deltas: DataFrame, numBuckets: Int,
                          oneTask: Boolean, rebalance: Boolean, seq: Long): IceLite.Staged =
    labelled(spark, s"cdc: fold + delta write (seq $seq)") {
      val rows = deltas.withColumn("seq", lit(seq))
      table.stage(spark, if (rebalance) rows.hint("rebalance", "bucket") else rows,
        numBuckets, oneTask, Nil, Map("compression" -> "snappy"))
    }

  /** The rejected-record count observed on the fold's scan — a TOTAL, not
    * per-partition. Observed metrics follow accumulator semantics: a
    * re-run shuffle stage after executor loss could overcount; the >0
    * quarantine gate is unaffected (zero stays zero), the quarantine
    * WRITE derives its rows from `tagged`, not from this count, and an
    * epoch batch commits its quarantine's footer count instead.
    *
    * The metric can be LOST (not just zero): when the fold leg
    * materializes empty (all-wipe / all-reject / empty batch), AQE's
    * empty-relation propagation replaces the subtree and the
    * CollectMetrics node leaves the final plan — Spark 4's
    * ObservationManager then completes the observation with an EMPTY
    * row. Fall back to a dedicated count for exactly those degenerate
    * batches; steady-state epochs never pay it.
    */
  private def rejectedCount(observed: Observation, tagged: DataFrame): Long =
    observed.get.get("bad") match {
      case Some(null) => 0L // observed node saw zero rows (empty batch)
      case Some(n)    => n.asInstanceOf[Long]
      case None       => tagged.filter(col("_error").isNotNull).count()
    }

  /** Writes the quarantine and returns the rejected count to commit: an
    * epoch batch's is read from the footers of the partition it just
    * wrote — exact, where the observed count can over-count under a
    * stage retry; any other batch's is the observed count (applyBatch).
    *
    * Epoch-tagged batches quarantine BEFORE the commit: a crash between
    * commit and a post-commit quarantine write would lose the rejects
    * permanently (re-delivery is skipped by the epoch marker, so the
    * dead-letter write never re-runs), and the epoch-partition dynamic
    * overwrite makes a crash-between-quarantine-and-commit re-run
    * idempotent. Ad-hoc batches (no epoch) APPEND their quarantine and
    * have no re-delivery marker — pre-commit writes would duplicate
    * rejects when a failed commit is re-applied, so they write after a
    * successful commit (the caller owns the retry decision).
    */
  private def quarantine(spark: SparkSession, tagged: DataFrame, rejectedDir: Option[String],
                         epoch: Option[(String, Long)], observed: Long): Long =
    if (observed == 0L) 0L
    else rejectedDir.fold(observed)(d => labelled(spark, "cdc: quarantine write") {
      val rej = tagged.filter(col("_error").isNotNull)
        .withColumn("_rejected_at_epoch", lit(epoch.map(_._2).getOrElse(-1L)))
      epoch match {
        case Some((_, bid)) =>
          // dynamic partition overwrite: a re-run of the same epoch
          // (crash between quarantine and commit) replaces its own
          // partition instead of duplicating rows
          rej.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_rejected_at_epoch").parquet(d)
          val part = new org.apache.hadoop.fs.Path(s"$d/_rejected_at_epoch=$bid")
          val fs = part.getFileSystem(spark.sessionState.newHadoopConf())
          IceLite.footerRowCount(spark, fs.listStatus(part).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).map(_.toString))
        case None =>
          rej.write.mode("append")
            .partitionBy("_rejected_at_epoch").parquet(d)
          observed
      }
    })

  /** CAS-commit `staged`, which was staged under seq `parent0.version + 1`:
    * the child carries `schema`, the staged deltas, `props(parent)` and
    * `metrics`. Single-writer sequence: rows are stamped before the
    * commit, so a racing writer (which would steal this version) fails
    * the race check, and the batch re-merges its schema over the racer's
    * and re-stages (`restage(seq)`) against the new parent, up to
    * [[MorCommitRetries]] times. Every re-stage keeps the bucket layout
    * of the first: if a rebucket landed meanwhile, the staged bucket
    * assignment is stale and the commit fences it
    * (IceLiteTable.commitStaged), never retried.
    *
    * Audit staging (B12) evaluates the SAME child-building callback —
    * epoch-redelivery skip and race fences included — but writes the
    * result under the audit name instead of the CAS pointer. A race
    * during staging retries exactly like a commit race (the audit must
    * describe current+batch at publish time).
    *
    * @return the committed snapshot and the rows it wrote; None when the
    *         parent already holds the epoch
    */
  private def commitWithRestage(
      table: IceLiteTable, parent0: IceLite.Snapshot, schema: StructType, staged: IceLite.Staged,
      restage: Long => IceLite.Staged, epoch: Option[(String, Long)], auditRef: Option[String],
      props: IceLite.Snapshot => Map[String, String],
      metrics: Map[String, Long]): Option[(IceLite.Snapshot, Long)] = {
    @scala.annotation.tailrec
    def attempt(retry: Int, expected: IceLite.Snapshot, schemaNow: StructType,
                staged: IceLite.Staged): Option[(IceLite.Snapshot, Long)] = {
      val seq = expected.version + 1
      val rowsWritten = staged.rows
      val committed =
        try Right(table.commitStaged(staged, epoch, auditRef) { parent =>
          if (parent.version != expected.version || parent.lastDeltaSeq >= seq)
            throw CommitRaced(
              s"MOR commit raced on ${table.dir}: staged seq $seq vs parent " +
                s"version ${parent.version} (lastDeltaSeq ${parent.lastDeltaSeq})")
          parent.copy(
            schemaJson = schemaNow.json,
            deltas = staged.appendTo(parent.deltas),
            lastDeltaSeq = seq,
            properties = parent.properties ++ props(parent),
            metrics = Map("rowsWritten" -> rowsWritten, "deltaFilesAdded" -> staged.paths.size.toLong) ++ metrics)
        })
        catch { case CommitRaced(msg) => Left(msg) }
      committed match {
        case Right(snap) => snap.map(_ -> rowsWritten)
        case Left(msg) if retry == MorCommitRetries =>
          throw new IllegalStateException(
            s"$msg — still racing after $MorCommitRetries re-stage attempts; " +
              "a concurrent writer is livelocking this table, re-apply the batch manually.")
        case Left(_) =>
          morRaceRetries.increment()
          val parent = table.current
          // the racer may have evolved the schema: merge ours over the
          // committed one (delta rows keep THIS batch's struct — readers
          // widen missing nested fields to null, ALTER-ADD semantics)
          val merged = SchemaEvolution.evolve(parent.schema, schemaNow)
          System.err.println(s"[graft] MOR commit race on ${table.dir} (attempt ${retry + 1}/" +
            s"$MorCommitRetries): re-staging against parent v${parent.version}")
          attempt(retry + 1, parent, merged, restage(parent.version + 1))
      }
    }
    attempt(0, parent0, schema, staged)
  }

  /** Amortized compaction: fold delta-heavy buckets back to base files
    * (bounds read-time merge work; per-batch write cost stays
    * O(changes + state/threshold) amortized). Budgeted: at most
    * morCompactBudget buckets per epoch so a synchronized threshold
    * crossing can never stall an epoch with a full-table rewrite.
    * Threshold 0 compacts every bucket holding a delta; a negative one
    * never compacts.
    */
  private def compact(spark: SparkSession, table: IceLiteTable, spec: MergeSpec): Unit =
    if (spec.morCompactThreshold >= 0) {
      val budget =
        if (spec.morCompactBudget > 0) spec.morCompactBudget
        else if (spec.morCompactBudget < 0) Int.MaxValue
        else { // auto: the sustainable steady-state rate when every epoch
               // touches every bucket (inflow numBuckets deltas/epoch)
          val perBucket = math.max(1, spec.morCompactThreshold)
          math.max(1, (table.numBuckets + perBucket - 1) / perBucket)
        }
      labelled(spark, "cdc: compaction") {
        table.compactDeltas(spark, spec.morCompactThreshold,
          maxBuckets = budget, stagger = spec.morCompactStagger)
      }
    }

  private def offsetProps(parent: IceLite.Snapshot, lineage: Array[Row]): Map[String, String] =
    lineage.map { r =>
      val p = r.getAs[Int]("partition")
      val prev = parent.properties.get(s"maxoff:$p").map(_.toLong).getOrElse(Long.MinValue)
      s"maxoff:$p" -> math.max(prev, r.getAs[Long]("max_off")).toString
    }.toMap

  /** The change-event envelope [[applyBatch]] takes, built for a table
    * derived from another table's state or change feed ([[Mirror]],
    * [[IncrementalView]], [[Scd2History]]): log partition 0, the given
    * offset, op and after-struct, the rows' own `conv_id` and `turn_idx`.
    */
  private[operators] def changeEvents(rows: DataFrame, offset: Column, op: Column, after: Column,
                                      ts: Column = lit(0L).cast("timestamp")): DataFrame =
    rows.select(lit(0).as("partition"), offset.as("offset"), ts.as("ts"), op.as("op"),
      col("conv_id"), col("turn_idx"), after.as("after"), lit(2).as("schemaV"))

  // ---------------------------------------------------------------------
  // Payload shaping: whitelist → extract → rename. The one rule for which
  // after-fields land and under which names.
  // ---------------------------------------------------------------------

  /** The shape phase: the value-field whitelist, ingest-time extraction,
    * then the payload rename — pure struct re-projections inside the
    * batch scan (no job).
    */
  private def shapePayload(events: DataFrame, spec: MergeSpec): DataFrame =
    renamePayload(extractPayloadFields(whitelistFields(events, spec), spec), spec)

  private def afterStruct(events: DataFrame): StructType = events.schema("after").dataType.asInstanceOf[StructType]

  private def afterField(n: String): Column = col(s"after.`$n`")

  /** `events` with its after-struct rebuilt from `fields`; a null
    * after-struct (a tombstone) stays null.
    */
  private def projectAfter(events: DataFrame, fields: Seq[Column]): DataFrame =
    events.withColumn("after", when(col("after").isNotNull, struct(fields: _*)))

  /** `events` with its after-struct cut to the fields `keep` accepts
    * (unchanged when it accepts all of them).
    */
  private def keepFields(events: DataFrame, keep: String => Boolean): DataFrame = {
    val afterT = afterStruct(events)
    val fields = afterT.fieldNames.toSeq.filter(keep)
    if (fields.size == afterT.fields.length) events else projectAfter(events, fields.map(n => afterField(n).as(n)))
  }

  /** True when the payload field lands under another name (reference
    * `value.converter.payload.field.name`, README.md:97-102): the event's
    * [[MergeSpec.extractSource]] field becomes [[MergeSpec.payloadTargetName]].
    */
  private def renames(spec: MergeSpec): Boolean =
    spec.payloadTargetName.nonEmpty && spec.payloadTargetName != spec.extractSource

  /** After-fields (event-side names) the spec itself reads, which survive
    * every projection even when all-null: extraction reads
    * after.<extractSource>, and the payload rename requires it.
    */
  private def specFields(spec: MergeSpec): Set[String] =
    if (spec.extractFields.nonEmpty || spec.payloadSchemas.nonEmpty || renames(spec)) Set(spec.extractSource)
    else Set.empty

  /** The after-fields surviving the whitelist: the key columns (conv_id,
    * turn_idx) ∪ whitelist ∪ spec-referenced columns (event-side names).
    */
  private def whitelisted(spec: MergeSpec)(n: String): Boolean =
    n == "conv_id" || n == "turn_idx" || spec.fieldsWhitelist.contains(n) || specFields(spec)(n)

  /** The after-struct SHAPE surviving [[whitelistFields]] — for
    * first-sight creation of an event-log table, so it never carries
    * non-whitelisted columns at all.
    */
  private[graft] def whitelistedStruct(afterT: StructType, spec: MergeSpec): StructType =
    if (spec.fieldsWhitelist.isEmpty) afterT
    else StructType(afterT.fields.filter(f => whitelisted(spec)(f.name)))

  /** First-sight creation shape of a state table: the after-struct after
    * the whitelist AND the payload rename — the same two transforms
    * [[applyBatch]] performs on every event, so a created table starts
    * with exactly the columns that will land.
    */
  private[graft] def tableStruct(afterT: StructType, spec: MergeSpec): StructType =
    StructType(whitelistedStruct(afterT, spec).fields.map(f =>
      if (renames(spec) && f.name == spec.extractSource) f.copy(name = spec.payloadTargetName) else f))

  /** A table's column names as events name them: a table under a payload
    * rename carries the TARGET name, events the source name.
    */
  private[graft] def eventSideNames(table: StructType, spec: MergeSpec): Set[String] =
    table.fieldNames.map(n => if (renames(spec) && n == spec.payloadTargetName) spec.extractSource else n).toSet

  /** A routed topic slice cut to the after-fields `keep` accepts plus the
    * ones the spec reads — projecting the extraction source out of a
    * first-sight slice would fail every retry of the epoch. A slice that
    * would keep no field (an all-tombstone first-sight slice) passes
    * unchanged: never an empty struct.
    */
  private[graft] def routedSlice(slice: DataFrame, keep: String => Boolean, spec: MergeSpec): DataFrame = {
    val kept = (n: String) => keep(n) || specFields(spec)(n)
    if (afterStruct(slice).fieldNames.exists(kept)) keepFields(slice, kept) else slice
  }

  /** Ingest-time value-field whitelist (reference `fields.whitelist`,
    * `.../sink/metadata/FieldsMetadata.java:79-162`): project the
    * after-struct down to keys ∪ whitelist ∪ spec-referenced columns.
    * Runs BEFORE extraction (which reads [[MergeSpec.extractSource]])
    * and before schema evolution, so dropped fields never become table
    * columns. Catalyst prunes the dropped leaves out of the parquet scan.
    */
  private[operators] def whitelistFields(events: DataFrame, spec: MergeSpec): DataFrame =
    if (spec.fieldsWhitelist.isEmpty) events else keepFields(events, whitelisted(spec))

  /** Ingest-time payload-field extraction + multi-schema classification:
    * widen the after-struct with `get_json_object(after.<extractSource>,
    * path)` columns, typed per ExtractField.castTo — pure codegen'd column
    * expressions, evaluated inside the one full-width batch scan (no extra
    * job, no UDF). The reference does this as converter/SMT config before
    * binding (README.md:97-102 extraction, :55-73 schema names,
    * :152-161 casting).
    *
    * Extraction failures (cast failure on a non-null raw value; no payload
    * schema matched) are carried in a nullable `_extract_error` column that
    * [[MergeEngine.tagErrors]] folds into the quarantine `_error`.
    */
  private def extractPayloadFields(events: DataFrame, spec: MergeSpec): DataFrame = {
    import graft.model.{ExtractField, PayloadSchema}
    require(spec.extractFields.isEmpty || spec.payloadSchemas.isEmpty,
      "configure either extractFields (single-schema) or payloadSchemas (multi-schema), not both")
    if (spec.extractFields.isEmpty && spec.payloadSchemas.isEmpty) events
    else {
      val afterT = afterStruct(events)
      val src = afterField(spec.extractSource)

      // union of target columns in first-seen order; each name must have
      // ONE type across schemas (it becomes one table column)
      val allFields: Seq[ExtractField] =
        if (spec.payloadSchemas.isEmpty) spec.extractFields
        else {
          spec.payloadSchemas.foreach { ps =>
            val d = ps.extract.map(_.name).diff(ps.extract.map(_.name).distinct)
            require(d.isEmpty,
              s"payload schema '${ps.name}' declares duplicate extract names: ${d.distinct.mkString(", ")}")
          }
          val seen = scala.collection.mutable.LinkedHashMap.empty[String, ExtractField]
          for (s <- spec.payloadSchemas; f <- s.extract) seen.get(f.name) match {
            case Some(prev) => require(prev.castTo == f.castTo,
              s"extract column '${f.name}' declared as ${prev.castTo} and ${f.castTo} in different schemas")
            case None => seen(f.name) = f
          }
          if (!spec.allowNonIndexed) {
            val names = spec.payloadSchemas.map(s => s.extract.map(_.name).toSet)
            require(names.forall(_ == names.head),
              "allowNonIndexed=false requires every payload schema to extract the same target columns " +
                s"(got ${spec.payloadSchemas.map(s => s"${s.name}:${s.extract.map(_.name).mkString("+")}").mkString(", ")})")
          }
          seen.values.toSeq
        }
      val dupes = allFields.map(_.name).diff(allFields.map(_.name).distinct)
      require(dupes.isEmpty, s"duplicate extract column names: ${dupes.distinct.mkString(", ")}")
      val collisions = allFields.map(_.name).toSet.intersect(afterT.fieldNames.toSet)
      require(collisions.isEmpty,
        s"extract column names collide with existing payload fields: ${collisions.mkString(", ")} " +
          "— extracted columns must not shadow envelope fields (rename the extract target)")

      def typed(f: ExtractField, raw: Column): Column =
        if (f.castTo == "string") raw else raw.try_cast(f.castTo)
      def castErr(f: ExtractField, raw: Column, gate: Column): Seq[(Column, String)] =
        if (f.castTo == "string") Nil
        else Seq((gate && raw.isNotNull && typed(f, raw).isNull,
          s"extract cast failure: ${f.name} as ${f.castTo}"))

      val (extracted: Seq[Column], errors: Seq[(Column, String)]) =
        if (spec.payloadSchemas.isEmpty) {
          val raws = spec.extractFields.map(f => f -> get_json_object(src, f.path))
          (raws.map { case (f, raw) => typed(f, raw).as(f.name) },
            raws.flatMap { case (f, raw) => castErr(f, raw, lit(true)) })
        } else {
          // first-match classification: schemaName = first schema whose
          // matchPath is present in the payload
          def matches(s: PayloadSchema): Column = get_json_object(src, s.matchPath).isNotNull
          val schemaName = coalesce(
            spec.payloadSchemas.map(s => when(matches(s), lit(s.name))) :+ lit(null).cast("string"): _*)
          val perField = allFields.map { f =>
            val variants = spec.payloadSchemas.flatMap { s =>
              s.extract.find(_.name == f.name).map(sf => (s, get_json_object(src, sf.path)))
            }
            val value = coalesce(variants.map { case (s, raw) =>
              when(schemaName === s.name, typed(f, raw))
            } :+ lit(null).cast(f.castTo): _*)
            val errs = variants.flatMap { case (s, raw) => castErr(f, raw, schemaName === s.name) }
            (value.as(f.name), errs)
          }
          (perField.map(_._1),
            (schemaName.isNull, "no payload schema matched") +: perField.flatMap(_._2))
        }

      val extractError = errors
        .foldLeft(when(col("after").isNull, lit(null).cast("string"))) { case (acc, (cond, msg)) =>
          acc.when(cond, msg)
        }
        .otherwise(null)
      projectAfter(events, afterT.fieldNames.toSeq.map(n => afterField(n).as(n)) ++ extracted)
        .withColumn("_extract_error", extractError)
    }
  }

  /** Payload target-column rename ([[renames]]). Runs AFTER extraction,
    * which reads the event-side name. Field order is preserved so the
    * rename is an in-place column retitle, not a layout change.
    */
  private def renamePayload(events: DataFrame, spec: MergeSpec): DataFrame =
    if (!renames(spec)) events
    else {
      val names = afterStruct(events).fieldNames.toSeq
      require(names.contains(spec.extractSource),
        s"payloadTargetName rename: source column '${spec.extractSource}' not in the after-struct " +
          s"(${names.mkString(", ")})")
      require(!names.contains(spec.payloadTargetName),
        s"payloadTargetName '${spec.payloadTargetName}' collides with an existing payload field")
      projectAfter(events, names.map(n =>
        afterField(n).as(if (n == spec.extractSource) spec.payloadTargetName else n)))
    }
}
