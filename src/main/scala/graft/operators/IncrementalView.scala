package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.MergeSpec
import graft.table.{ChangeFeed, IceLiteTable}

/** Incremental materialized aggregate views over the change feed: keep
  * `source.groupBy(dims).agg(count, sums)` materialized in a small
  * IceLite view table, maintained in **O(changes since cursor)** per
  * refresh instead of an O(corpus) recompute — the capability that makes
  * corpus-level statistics (per-language token counts, per-day volumes)
  * affordable per-epoch at 100 TB. Count and sum are the classic
  * self-maintainable aggregates under insert/update/delete; avg and
  * friends derive from them at read time.
  *
  * Maintenance math: for the snapshot range `(from, to]`, the group
  * delta is `agg(after) - agg(before)` over only the touched
  * conversations. The BEFORE state is read once (bucket-pruned `readAt`
  * at `from` + semi join, locally checkpointed — its rows are O(touched
  * convs x turns)); the AFTER state is DERIVED by rolling the feed's
  * actions forward over it ([[graft.table.MorRead.foldState]]) — no
  * second state read. Conversation granularity keeps the logic
  * action-free — a key that did not change contributes the same row to
  * both sides and cancels exactly, while inserts, updates, deletes, and
  * series wipes all reduce to "rows present on one side, absent or
  * different on the other". No per-action case analysis, no
  * before-images stored in the feed.
  *
  * The view itself is an IceLite table keyed by the dim tuple
  * (`conv_id` = separator-joined dim values, `turn_idx` = 0), so the
  * refresh commit inherits the engine's exactly-once epoch machinery
  * (cursor = committed `epoch:ivm:<sourceDir>` property, re-delivery
  * skipped, crash-idempotent) and the view is itself feed-readable —
  * downstream consumers can tail the VIEW's changes.
  *
  * Refresh cost: feed scan O(changes) + ONE bucket-pruned state scan of
  * the touched buckets (shuffling only touched-conversation rows) + a
  * group-delta aggregation O(touched rows) + a view upsert O(changed
  * groups). The scan term is the honest bound: hash bucketing spreads
  * any realistic change set across buckets, so "touched buckets" ≈ the
  * table — but the scan is column-pruned and shuffle-free for untouched
  * keys, while a full recompute additionally shuffles O(all groups) and
  * rebuilds the result from scratch. A refresh with no new commits is a
  * skip; a refresh of a view whose table has no cursor bootstraps from
  * a full aggregate at `to` (the only step that also FOLDS the whole
  * corpus, paid once).
  */
object IncrementalView {

  /** Aggregate spec: group dims and summed measures, each an
    * expression over the source row. Count is always maintained (also
    * the group-liveness test: groups whose count reaches 0 are deleted
    * from the view).
    */
  final case class ViewSpec(
      dims: Seq[(String, Column)],
      /** summed measures; a NULL measure value contributes 0 (the
        * incrementally-maintainable definition — see [[aggregate]]) */
      sums: Seq[(String, Column)] = Seq.empty) {
    require(dims.nonEmpty, "a view needs at least one group dimension")
    private[operators] def measureNames: Seq[String] = "cnt" +: sums.map(_._1)
  }

  final case class RefreshResult(
      result: CdcApply.BatchResult,
      fromVersion: Option[Long],
      toVersion: Long)

  private def streamId(source: IceLiteTable): String = s"ivm:${source.dir}"

  def cursor(source: IceLiteTable, view: IceLiteTable): Option[Long] =
    view.current.epochs.get(streamId(source))

  /** The view's table schema for `spec` (pass to `IceLite.create`):
    * key columns + the dims under their natural types + `cnt` + sums.
    */
  def viewSchema(spark: SparkSession, source: IceLiteTable, spec: ViewSpec): StructType =
    aggregate(emptyOf(spark, source), spec)
      .withColumn("conv_id", viewKey(spec)).withColumn("turn_idx", lit(0))
      .select(("conv_id" +: "turn_idx" +: (spec.dims.map(_._1) ++ spec.measureNames)).map(col): _*)
      .schema

  /** Full aggregate of `rows` under `spec` (bootstrap / oracle shape). */
  private def aggregate(rows: DataFrame, spec: ViewSpec): DataFrame = {
    // Measure semantics: a NULL measure value contributes 0 — the
    // incrementally-maintainable definition. Plain sum() would yield a
    // NULL group delta for an all-NULL change set, and NULL + stored
    // sum is NULL: a single null-measured insert would silently wipe an
    // existing group's sum on the incremental path while a recompute
    // kept it. Coalescing INSIDE the aggregate makes bootstrap, delta,
    // and recompute agree exactly (all-NULL groups read 0, not NULL).
    val aggs = count(lit(1)).as("cnt") +:
      spec.sums.map { case (n, c) => sum(coalesce(c, lit(0L))).as(n) }
    rows.groupBy(spec.dims.map { case (n, c) => c.as(n) }: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Group delta of the range `(from, to]`: one row per group whose
    * aggregate changed, carrying the SIGNED change of each measure.
    *
    * One state read, not two: the BEFORE state of the touched
    * conversations is read at `fromVersion` (bucket-pruned + semi join);
    * the AFTER state is derived from it by rolling the range's feed
    * actions forward ([[graft.table.MorRead.foldState]] — base rows rank
    * seq 0, feed actions carry their committing versions), so the
    * expensive part of a refresh is ONE scan of the touched buckets plus
    * an O(changes) fold, never a second full state read (the `to`-side
    * read is the costly one: right after an apply every touched bucket
    * has fresh deltas to fold). Ranges containing append commits fall
    * back to reading both sides: append tables may hold several rows per
    * key, which the keyed fold would wrongly collapse.
    */
  def groupDelta(
      spark: SparkSession,
      source: IceLiteTable,
      spec: ViewSpec,
      fromVersion: Long,
      toVersion: Long): DataFrame = {
    // the feed is consumed three times (touched-conv distinct, bucket
    // collect, the fold): a lazy local checkpoint materializes its delta
    // scan + wipe-expansion ONCE per refresh (reclaimed by the
    // ContextCleaner; reliable checkpoint on a lossy cluster, same shape)
    val feed = ChangeFeed.read(spark, source, fromVersion, toVersion).localCheckpoint(false)
    val convs = feed.select("conv_id").distinct()
    // touched buckets: driver-side, bounded by numBuckets
    val bk = feed.select(graft.table.IceLite.bucketOf(col("conv_id"), source.numBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    if (bk.isEmpty) return aggregate(emptyOf(spark, source), spec).limit(0)
    // schema as of the range end — what the feed's row structs carry
    val sch = source.snapshot(toVersion).schema
    def widen(df: DataFrame): DataFrame =
      df.select(sch.fields.toSeq.map(f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    val rangeHasAppends = ((fromVersion + 1) to toVersion)
      .exists(v => source.snapshot(v).metrics.contains("bucketsAppended"))
    val before0 = widen(
      source.readAt(spark, fromVersion, Some(bk)).join(convs, Seq("conv_id"), "left_semi"))
    // the fold path consumes `before` twice (the negative aggregate and
    // the fold's base); its rows are O(touched convs x turns) — small —
    // while producing it costs a touched-bucket scan: a lazy local
    // checkpoint materializes that scan ONCE (reclaimed by the
    // ContextCleaner when the refresh plan is dropped; on a lossy
    // multi-executor cluster use reliable checkpoint — same shape)
    val before = if (rangeHasAppends) before0 else before0.localCheckpoint(false)
    val after =
      if (rangeHasAppends)
        widen(source.readAt(spark, toVersion, Some(bk)).join(convs, Seq("conv_id"), "left_semi"))
      else
        graft.table.MorRead.foldState(
          before,
          feed.select(col("conv_id"), col("turn_idx"), col("action"), col("row"),
            col("_commit_version").as("seq")),
          sch)
    val pos = aggregate(after, spec).select(col("*"), lit(1L).as("sign"))
    val neg = aggregate(before, spec).select(col("*"), lit(-1L).as("sign"))
    val deltas = spec.measureNames.map(n => sum(col(n) * col("sign")).as(n))
    pos.unionByName(neg)
      .groupBy(spec.dims.map(d => col(d._1)): _*)
      .agg(deltas.head, deltas.tail: _*)
      .filter(spec.measureNames.map(n => col(n) =!= 0L).reduce(_ || _))
  }

  def refresh(
      spark: SparkSession,
      source: IceLiteTable,
      view: IceLiteTable,
      spec: ViewSpec,
      mergeSpec: MergeSpec = MergeSpec(),
      toVersion: Long = -1L): RefreshResult = {
    val to = if (toVersion < 0) source.currentVersion else toVersion
    val from = cursor(source, view)
    if (from.exists(_ >= to))
      return RefreshResult(CdcApply.BatchResult(view.current, skipped = true, 0L, 0L, 0L), from, to)

    val groups = from match {
      case None =>
        // bootstrap: the one O(corpus) aggregate
        aggregate(source.readAt(spark, to), spec)
      case Some(f) =>
        val delta = groupDelta(spark, source, spec, f, to)
        // current view rows for exactly the changed groups (bucket-pruned
        // point reads on the dim-tuple key), then fold the delta in
        val keyed = delta.withColumn("conv_id", viewKey(spec))
        val vb = keyed.select(graft.table.IceLite.bucketOf(col("conv_id"), view.numBuckets).as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val cur =
          if (vb.isEmpty) emptyOf(spark, view)
          else view.read(spark, Some(vb))
        val curM = spec.measureNames.foldLeft(
          cur.select(col("conv_id") +: spec.measureNames.map(col): _*)) {
            (d, n) => d.withColumnRenamed(n, s"_cur_$n") }
        keyed.join(curM, Seq("conv_id"), "left")
          .select(
            spec.dims.map(d => col(d._1)) ++
              spec.measureNames.map(n =>
                (coalesce(col(s"_cur_$n"), lit(0L)) + col(n)).as(n)): _*)
    }
    // dead groups (cnt back to 0) leave the view as deletes
    val events = CdcApply.changeEvents(
      groups.withColumn("conv_id", viewKey(spec)).withColumn("turn_idx", lit(0)),
      offset = lit(to),
      op = when(col("cnt") === 0L, "delete").otherwise("upsert"),
      after = when(col("cnt") =!= 0L,
        struct(col("conv_id") +: col("turn_idx") +:
          (spec.dims.map(d => col(d._1)) ++ spec.measureNames.map(col)): _*)))
    val res = CdcApply.applyBatch(spark, view, events, mergeSpec, epoch = Some((streamId(source), to)))
    RefreshResult(res, from, to)
  }

  /** Read the maintained view without key plumbing: dims + measures. */
  def read(spark: SparkSession, view: IceLiteTable, spec: ViewSpec): DataFrame =
    view.read(spark).select(spec.dims.map(d => col(d._1)) ++ spec.measureNames.map(col): _*)

  /** Collision-free key for the dim tuple: JSON-encoded struct. Field
    * names + JSON escaping make the encoding injective for ANY dim
    * values -- a separator-joined concat collides when the data itself
    * contains the separator (control chars do occur in scraped text).
    * `ignoreNullFields=false` pins null encoding independent of the
    * session's json-generator default. Cost is per changed GROUP (the
    * aggregation has already run), not per source row.
    */
  private def viewKey(spec: ViewSpec): Column =
    to_json(struct(spec.dims.map(d => col(d._1)): _*),
      java.util.Map.of("ignoreNullFields", "false"))

  private def emptyOf(spark: SparkSession, source: IceLiteTable): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), source.schema)
}
