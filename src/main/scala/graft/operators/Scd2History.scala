package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{MergeSpec, NetAction}
import graft.table.{ChangeFeed, IceLite, IceLiteTable}

/** SCD2-style versioned history over the incremental change feed: the
  * third derived surface of the event store (latest state = [[Mirror]],
  * aggregates = [[IncrementalView]], full version history = this). The
  * history table holds one row per VERSION of each source key
  * `(conv_id, turn_idx)`, with the half-open validity interval
  * `[valid_from, valid_to)` in source snapshot versions, `valid_to`
  * null ⇔ `is_current`. This is the event-store consumer shape the
  * reference's deployment gets by querying the append-only event log it
  * lands next to the latest-state table (`/root/reference/README.md:16-28`,
  * the dual-surface design) — except maintained incrementally as a real
  * table, O(changes) per refresh, instead of recomputed from the log.
  *
  * Version semantics (pinned by Scd2Spec against a snapshot-diff oracle):
  * a new version opens exactly when the key's row CHANGES between
  * consecutive source snapshots — appears, disappears (interval closes,
  * nothing opens), or changes payload. Net actions that do not change
  * the row (an UpdateIfExists that matched nothing; a re-upsert of the
  * identical row) open nothing, so the history is identical whether it
  * is refreshed per commit or caught up across many commits in one
  * refresh, and identical to diffing `readAt` snapshots.
  *
  * Table layout: an ordinary IceLite MOR table keyed by
  * `(conv_id = json{c,t} of the source key, turn_idx = version ordinal)`
  * — the [[IncrementalView]] key-encoding pattern — so refreshes inherit
  * the engine's exactly-once epoch machinery (cursor = committed
  * `epoch:scd2:<sourceDir>` property; re-delivery and crashes are
  * idempotent) and the history is itself feed-readable. Closing a
  * version is an upsert of its ordinal; history rows are never deleted.
  *
  * Refresh cost (the 100 TB shape): feed scan O(changes in range) + one
  * bucket-pruned read of the history's CURRENT rows for exactly the
  * touched keys + (only when the range contains series wipes) one
  * bucket-pruned read of the wiped conversations' source before-state —
  * never a scan of the history or the source. The per-key transition
  * fold is one window chain partitioned by source key: O(touched keys ×
  * actions-in-range), a single shuffle.
  *
  * Requires a keyed-state source (at most one live row per key): ranges
  * containing append-only event-log commits are rejected, like
  * [[graft.table.MorRead.foldState]].
  */
object Scd2History {

  final case class RefreshResult(
      result: CdcApply.BatchResult,
      fromVersion: Option[Long], // None = bootstrap from full state
      toVersion: Long)

  private def streamId(source: IceLiteTable): String = s"scd2:${source.dir}"

  /** The source version the history has been maintained up to, if any. */
  def cursor(source: IceLiteTable, history: IceLiteTable): Option[Long] =
    history.current.epochs.get(streamId(source))

  /** History table schema for a source schema (pass to `IceLite.create`):
    * key columns, the source's columns with its key renamed to
    * `src_conv_id`/`src_turn_idx` (the table key is repurposed for the
    * version identity), then the interval columns.
    */
  def historySchema(sourceSchema: StructType): StructType = StructType(
    Seq(StructField("conv_id", StringType, nullable = false),
      StructField("turn_idx", IntegerType, nullable = false)) ++
      sourceSchema.fields.map {
        case f if f.name == "conv_id"  => f.copy(name = "src_conv_id")
        case f if f.name == "turn_idx" => f.copy(name = "src_turn_idx")
        case f                         => f
      } ++
      Seq(StructField("valid_from", LongType),
        StructField("valid_to", LongType),
        StructField("is_current", BooleanType)))

  /** Injective history key for a source key (the [[IncrementalView]]
    * JSON-encoding pattern; values here are never null but the option is
    * pinned anyway so the encoding never depends on session defaults).
    */
  private def keyCol(c: Column, t: Column): Column =
    to_json(struct(c.as("c"), t.as("t")), java.util.Map.of("ignoreNullFields", "false"))

  /** The maintained current rows, under the SOURCE's column names —
    * must equal `source.read` exactly (the Scd2Spec invariant).
    */
  def currentState(spark: SparkSession, history: IceLiteTable): DataFrame = {
    val drop = Set("conv_id", "turn_idx", "valid_from", "valid_to", "is_current")
    val payload = history.schema.fieldNames.filterNot(drop).toSeq
    history.read(spark).filter(col("is_current"))
      .select(payload.map(n => col(n).as(n match {
        case "src_conv_id" => "conv_id"
        case "src_turn_idx" => "turn_idx"
        case other => other
      })): _*)
  }

  def refresh(
      spark: SparkSession,
      source: IceLiteTable,
      history: IceLiteTable,
      mergeSpec: MergeSpec = MergeSpec(),
      toVersion: Long = -1L): RefreshResult = {
    val to = if (toVersion < 0) source.currentVersion else toVersion
    val from = cursor(source, history)
    if (from.exists(_ >= to))
      return RefreshResult(CdcApply.BatchResult(history.current, skipped = true, 0L, 0L, 0L), from, to)
    // keyed-state sources only: an append commit can hold many rows per
    // key, which the per-key transition fold would mis-fold
    val checkFrom = from.getOrElse(1L)
    require(!((checkFrom + 1) to to).exists(v =>
      source.snapshot(v).metrics.contains("bucketsAppended")),
      s"scd2 history requires a keyed-state source: version range ($checkFrom, $to] " +
        s"of ${source.dir} contains append-only event-log commits")

    val sch = source.snapshot(to).schema
    val upserts = from match {
      case None    => bootstrapRows(spark, source, sch, to)
      case Some(f) => transitionRows(spark, source, history, sch, f, to)
    }
    val hNames = historySchema(sch).fieldNames.toSeq
    val events = CdcApply.changeEvents(upserts, offset = lit(to), op = lit("upsert"),
      after = struct(hNames.map(n => col(s"`$n`")): _*))
    val res = CdcApply.applyBatch(spark, history, events, mergeSpec, epoch = Some((streamId(source), to)))
    RefreshResult(res, from, to)
  }

  /** First refresh: every live source row becomes version 0, open at
    * `to`. History before the bootstrap version is unknowable (the feed
    * may already have been expired), exactly like Mirror's bootstrap.
    */
  private def bootstrapRows(
      spark: SparkSession, source: IceLiteTable, sch: StructType, to: Long): DataFrame =
    source.readAt(spark, to).select(
      keyCol(col("conv_id"), col("turn_idx")).as("_k") +:
        lit(0).as("_ord") +:
        payloadCols(sch, n => col(s"`$n`")) :+
        lit(to).as("valid_from") :+
        lit(null).cast(LongType).as("valid_to") :+
        lit(true).as("is_current"): _*)
      .withColumnRenamed("_k", "conv_id").withColumnRenamed("_ord", "turn_idx")

  /** Source columns renamed for the history row, given an accessor from
    * source-schema field name to Column.
    */
  private def payloadCols(sch: StructType, get: String => Column): Seq[Column] =
    sch.fields.toSeq.map {
      case f if f.name == "conv_id"  => get(f.name).as("src_conv_id")
      case f if f.name == "turn_idx" => get(f.name).as("src_turn_idx")
      case f                         => get(f.name).as(f.name)
    }

  /** The incremental refresh: per touched key, roll the range's feed
    * actions over the key's current open version and emit the history
    * upserts (closed current rows + newly opened versions).
    * (package-visible so PlanSpec can pin its physical plan)
    */
  private[graft] def transitionRows(
      spark: SparkSession,
      source: IceLiteTable,
      history: IceLiteTable,
      sch: StructType,
      from: Long,
      to: Long): DataFrame = {
    // consumed up to four times (row actions fold, wipe set + its bucket
    // collect, touched-key collect): one lazy local checkpoint
    // materializes the range's delta scan instead of four re-reads
    val feed = ChangeFeed.read(spark, source, from, to).localCheckpoint(false)

    // ---- per-key action stream -------------------------------------
    // ordering within a key: (commit version, sub) with the key's open
    // version as a pseudo-action first (sub 0 at the cursor version),
    // wipes before their own commit's row actions (the engine's wipe
    // rule: same-commit row actions survive the wipe)
    val rowActs = feed.filter(col("action") =!= NetAction.Wipe)
      .select(col("conv_id").as("src_conv_id"), col("turn_idx").as("src_turn_idx"),
        col("action"), col("row"), col("_commit_version").as("v"), lit(2).as("sub"))

    val wipes = feed.filter(col("action") === NetAction.Wipe)
      .select(col("conv_id").as("src_conv_id"), col("_commit_version").as("v"))
    // driver-side: wiped conversations' source buckets (bounded by numBuckets)
    val wipedBuckets = wipes
      .select(IceLite.bucketOf(col("src_conv_id"), source.numBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    // a wipe closes every version open when it lands: expand it to a Del
    // per affected key — keys live at `from` (source before-state,
    // bucket-pruned to the wiped conversations) plus keys the range's own
    // row actions touch (created-then-wiped in range); overshoot is
    // harmless (a Del on a closed key is ineffective in the fold)
    val wipeActs =
      if (wipedBuckets.isEmpty) emptyActs(spark, sch)
      else {
        val wipedConvs = wipes.select("src_conv_id").distinct()
        val liveAtFrom = source.readAt(spark, from, Some(wipedBuckets))
          .select(col("conv_id").as("src_conv_id"), col("turn_idx").as("src_turn_idx"))
          .join(wipedConvs, Seq("src_conv_id"), "left_semi")
        val inRange = rowActs.select("src_conv_id", "src_turn_idx")
          .join(wipedConvs, Seq("src_conv_id"), "left_semi")
        wipes.join(liveAtFrom.unionByName(inRange).distinct(), Seq("src_conv_id"))
          .select(col("src_conv_id"), col("src_turn_idx"),
            lit(NetAction.Del).as("action"), lit(null).cast(sch).as("row"),
            col("v"), lit(1).as("sub"))
      }

    val acts0 = rowActs.unionByName(wipeActs)
      .withColumn("init_from", lit(null).cast(LongType))

    // ---- the touched keys' history rows (bucket-pruned point reads) --
    val touched = acts0
      .select(keyCol(col("src_conv_id"), col("src_turn_idx")).as("conv_id")).distinct()
    val hBuckets = touched
      .select(IceLite.bucketOf(col("conv_id"), history.numBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val hist =
      if (hBuckets.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), history.schema)
      else history.read(spark, Some(hBuckets))
        .join(touched, Seq("conv_id"), "left_semi")
    // per-key ordinal base: ordinals are dense and at most the last one is
    // open, so closed-count = max ordinal + 1 - (1 if a version is open).
    // The base must count CLOSED versions too — a key deleted and later
    // re-inserted has no current row, but its next version must continue
    // the ordinal sequence, not overwrite version 0.
    val keyAttrs = hist.groupBy("src_conv_id", "src_turn_idx")
      .agg((max(col("turn_idx")) + 1 -
        max(when(col("is_current"), 1).otherwise(0))).cast(IntegerType).as("closed_cnt"))
    val cur = hist.filter(col("is_current"))
    // widen the stored payload to the range-end source schema (drift:
    // columns added/widened mid-range surface as nulls / up-casts)
    val initActs = cur.select(
      col("src_conv_id"), col("src_turn_idx"),
      lit("init").as("action"),
      struct(sch.fields.toSeq.map { f =>
        val src = f.name match {
          case "conv_id"  => col("src_conv_id")
          case "turn_idx" => col("src_turn_idx")
          case n if cur.columns.contains(n) => col(s"`$n`")
          case _ => lit(null)
        }
        src.cast(f.dataType).as(f.name)
      }: _*).as("row"),
      lit(from).as("v"), lit(0).as("sub"),
      col("valid_from").as("init_from"))

    val acts = acts0.unionByName(initActs)
      .join(keyAttrs, Seq("src_conv_id", "src_turn_idx"), "left")

    // ---- per-key transition fold (one window chain) ------------------
    val wOrd  = Window.partitionBy("src_conv_id", "src_turn_idx").orderBy(col("v"), col("sub"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)

    // existence: the last Put/Del-kind action decides whether the key is
    // live (init counts as Put); effectiveness of an anchor doesn't
    // change what it implies about existence
    val isAnchor = col("action").isin(NetAction.Put, NetAction.Del, "init")
    val anchorKind = when(col("action") === NetAction.Del, "del").otherwise("put")
    val s1 = acts
      .withColumn("exists_before",
        coalesce(last(when(isAnchor, anchorKind), ignoreNulls = true).over(wPrev) === "put",
          lit(false)))

    // per-ACTION post-state (candidate openings: Put and matched
    // UpdateIfExists; effective deletes)
    val s2 = s1
      .withColumn("cand_open",
        col("action").isin(NetAction.Put, "init") ||
          (col("action") === NetAction.UpdateIfExists && col("exists_before")))
      .withColumn("eff_del", col("action") === NetAction.Del && col("exists_before"))
      .withColumn("state_ev",
        when(col("cand_open"), struct(lit(true).as("open"), col("row").as("r")))
          .when(col("eff_del"), struct(lit(false).as("open"), lit(null).cast(sch).as("r"))))

    // ---- collapse to the per-COMMIT end state ------------------------
    // Version boundaries are SNAPSHOT boundaries: the actions of one
    // commit (wipe-expanded Del at sub 1, the key's net row action at
    // sub 2) collapse to the key's end state at that commit, and
    // transitions are diffed across commits. Acting per-action instead
    // opened a phantom version whenever one commit wiped a conversation
    // AND re-inserted an identical row (the engine keeps the row — the
    // wipe rule lets same-commit row actions survive — so consecutive
    // snapshots are identical and the oracle records no transition).
    val wCommit = Window.partitionBy("src_conv_id", "src_turn_idx", "v")
      .orderBy(col("sub"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val collapsed = s2
      .withColumn("end_state", last(col("state_ev"), ignoreNulls = true).over(wCommit))
      .withColumn("rn", row_number().over(
        Window.partitionBy("src_conv_id", "src_turn_idx", "v").orderBy(col("sub").desc)))
      .filter(col("rn") === 1 && col("end_state").isNotNull)

    // transitions across commits: open⇒open' (payload changed) closes +
    // reopens; open⇒absent closes; absent⇒open opens; equal payloads and
    // absent⇒absent are no snapshot diff ⇒ no version
    val wOrdC  = Window.partitionBy("src_conv_id", "src_turn_idx").orderBy(col("v"))
    val wPrevC = wOrdC.rowsBetween(Window.unboundedPreceding, -1)
    val s3 = collapsed
      .withColumn("prev_end", last(col("end_state"), ignoreNulls = true).over(wPrevC))
      .withColumn("opening", col("end_state.open") &&
        !(col("prev_end").isNotNull && col("prev_end.open") &&
          (col("prev_end.r") <=> col("end_state.r"))))
      .withColumn("closing", !col("end_state.open") &&
        col("prev_end").isNotNull && col("prev_end.open"))
      .filter(col("opening") || col("closing"))
      .withColumn("next_v", lead(col("v"), 1).over(wOrdC))
      .withColumn("open_rank",
        sum(when(col("opening"), 1L).otherwise(0L))
          .over(wOrdC.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    s3.filter(col("opening"))
      .withColumn("ordinal",
        (coalesce(col("closed_cnt"), lit(0)) + col("open_rank") - 1).cast(IntegerType))
      // the open pseudo-row re-emits ONLY when something closed it
      .filter(!(col("action") === "init" && col("next_v").isNull))
      .select(
        keyCol(col("src_conv_id"), col("src_turn_idx")).as("conv_id") +:
          col("ordinal").as("turn_idx") +:
          payloadCols(sch, n => col(s"end_state.r.`$n`")) :+
          coalesce(col("init_from"), col("v")).as("valid_from") :+
          col("next_v").as("valid_to") :+
          col("next_v").isNull.as("is_current"): _*)
  }

  private def emptyActs(spark: SparkSession, sch: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Seq(
      StructField("src_conv_id", StringType),
      StructField("src_turn_idx", IntegerType),
      StructField("action", StringType),
      StructField("row", sch),
      StructField("v", LongType),
      StructField("sub", IntegerType))))
}
