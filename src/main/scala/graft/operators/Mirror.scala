package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{MergeSpec, NetAction}
import graft.table.{ChangeFeed, IceLiteTable}

/** Downstream table mirroring over the incremental change feed: the
  * consumer half of CDC egress. `sync` advances a target IceLite table
  * to the source's state by applying only the net change rows the
  * source committed since the last sync ([[ChangeFeed.read]]) — the
  * downstream analogue of the reference deployment's consumers querying
  * the landed RDBMS tables (`/root/reference/README.md:19-24`), except
  * the mirror is itself a table that further consumers can tail
  * (mirror chains compose: every `sync` commit is a MOR commit, hence
  * feed-readable).
  *
  * Cursor + exactly-once ride on the existing epoch machinery: each
  * sync applies through [[CdcApply.applyBatch]] with
  * `epoch = ("mirror:<sourceDir>", sourceVersion)`, so the committed
  * `epoch:` property IS the cursor, a re-delivered or concurrent sync
  * of the same range is a no-op, and a crash between apply and commit
  * re-applies idempotently — no mirror-specific commit protocol.
  *
  * First sync (no cursor) bootstraps from the source's full state at
  * `toVersion` (`readAt` — O(state), valid regardless of snapshot
  * expiry); later syncs are incremental (O(changes since cursor)) and
  * require the range's snapshots — INCLUDING the cursor version, the
  * feed baseline — to survive source expiry, like any feed read. The
  * streaming path enforces this automatically (consumer-cursor-pinned
  * retention, [[graft.streaming.CdcStream.pinnedKeep]]); manual users
  * must expire the source with `keepLast >= currentVersion - cursor + 1`
  * or re-create a mirror whose cursor fell out of the window.
  *
  * Ordering: feed rows map back to change events with
  * `offset = 2*version + (1 if row-level else 0)`, so (a) later source
  * commits win the mirror's per-key fold, and (b) a series wipe orders
  * BEFORE its own commit's row actions — the source's fold already
  * decided those rows survive the wipe, and replaying them at equal
  * offset would wrongly re-suppress them.
  */
object Mirror {

  final case class SyncResult(
      result: CdcApply.BatchResult,
      fromVersion: Option[Long], // None = bootstrap from full state
      toVersion: Long)

  private def streamId(source: IceLiteTable): String = s"mirror:${source.dir}"

  /** The source version the target has mirrored up to, if any. */
  def cursor(source: IceLiteTable, target: IceLiteTable): Option[Long] =
    target.current.epochs.get(streamId(source))

  def sync(
      spark: SparkSession,
      source: IceLiteTable,
      target: IceLiteTable,
      spec: MergeSpec = MergeSpec(),
      toVersion: Long = -1L): SyncResult = {
    val to = if (toVersion < 0) source.currentVersion else toVersion
    val from = cursor(source, target)
    if (from.exists(_ >= to))
      return SyncResult(CdcApply.BatchResult(target.current, skipped = true, 0L, 0L, 0L), from, to)

    val events = from match {
      case Some(f) => feedAsEvents(ChangeFeed.read(spark, source, f, to))
      case None    => stateAsEvents(source.readAt(spark, to))
    }
    val res = CdcApply.applyBatch(spark, target, events, spec, epoch = Some((streamId(source), to)))
    SyncResult(res, from, to)
  }

  /** Net-action feed rows → change-event envelope for the apply path. */
  private def feedAsEvents(feed: DataFrame): DataFrame = {
    val rowLevel = col("action") =!= NetAction.Wipe
    CdcApply.changeEvents(feed,
      offset = col("_commit_version") * 2 + when(rowLevel, 1L).otherwise(0L),
      op = when(col("action") === NetAction.Del || col("action") === NetAction.Wipe, "delete")
        .when(col("action") === NetAction.UpdateIfExists, "update")
        .otherwise("upsert"),
      after = when(col("action").isin(NetAction.Put, NetAction.UpdateIfExists), col("row")),
      ts = col("_commit_version").cast("timestamp"))
  }

  /** Full source state → insert events (bootstrap sync). */
  private def stateAsEvents(state: DataFrame): DataFrame =
    CdcApply.changeEvents(state, offset = lit(0L), op = lit("upsert"),
      after = struct(state.schema.fieldNames.toSeq.map(col): _*))
}
