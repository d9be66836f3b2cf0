package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.{MergeSpec, Schemas}
import graft.operators.CdcApply
import graft.table.{IceLite, IceLiteTable}

/** Structured Streaming driver: tails the change-event log (a parquet
  * file-source directory standing in for Kafka — no kafka jar in this
  * sandbox) and applies each micro-batch through CdcApply inside
  * foreachBatch.
  *
  * Exactly-once = Spark's checkpointed offset log (which files each epoch
  * covers) + the idempotent epoch commit in the IceLite snapshot
  * (`epoch:<streamId>` property): after a crash, Spark re-runs the last
  * possibly-uncommitted epoch with the SAME batch id and file set, and
  * CdcApply either re-applies it deterministically (snapshot was never
  * committed) or skips it (it was) — the engine-side analogue of the
  * reference's one-JDBC-transaction-per-put
  * (`/root/reference/src/main/java/io/confluent/connect/jdbc/sink/JdbcDbWriter.java:56,83`)
  * on top of Connect's at-least-once redelivery
  * (`.../sink/JdbcSinkTask.java:102-107`).
  *
  * Schema drift mid-stream: each micro-batch's envelope schema is re-resolved from the batch's OWN
  * parquet footers (the streamed scan is only an offset-tracking feed; the
  * data flows through a fresh batch read of exactly the files the epoch
  * covers). A column that first appears in log files written AFTER the
  * stream started therefore lands in the table via ALTER-ADD evolution in
  * the same epoch, no restart — the engine analogue of the reference
  * evolving per record batch
  * (`.../sink/BufferedRecords.java:118-126`, `.../sink/DbStructure.java:124-231`).
  */
object CdcStream {

  /** One shared daemon thread for background maintenance tasks (at most
    * one task outstanding per stream; see the cadence block in [[start]]).
    */
  private lazy val maintenanceEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t
      })

  /** Last-submitted background maintenance task per stream, keyed by
    * checkpointDir (unique per stream by construction — streamIds may
    * legitimately repeat across streams since epoch markers are
    * per-table).
    */
  private val pendingMaintenance =
    scala.collection.concurrent.TrieMap.empty[String, scala.concurrent.Future[Unit]]

  /** A cadence that fires while the previous task is still running sets
    * this flag instead of piling up a queue: the running task re-runs
    * itself ONCE on completion, coalescing any number of skipped
    * cadences into one catch-up — metadata stays bounded even when one
    * maintenance pass outlives several cadences.
    */
  private val maintenanceQueued =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicBoolean]

  /** Block until the stream's outstanding background maintenance task (if
    * any) finishes — for orderly teardown after a stream terminates (the
    * task itself never throws; failures are logged). Key = checkpointDir.
    */
  def awaitMaintenance(checkpointDir: String): Unit =
    pendingMaintenance.get(checkpointDir).foreach { f =>
      scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf)
      // teardown eviction: a long-lived JVM cycling many streams (test
      // suites, notebooks) must not accumulate per-stream entries forever
      pendingMaintenance.remove(checkpointDir, f)
      maintenanceQueued.remove(checkpointDir)
    }

  /** Topic→table routing (the reference's `table.name.format` with
    * `${topic}`, `/root/reference/src/main/java/io/confluent/connect/jdbc/sink/JdbcDbWriter.java:90-101`):
    * events carry a `topicColumn`, and each distinct topic's slice of the
    * batch is applied to its own IceLite table at
    * `tableDirTemplate.replace("${topic}", topic)`. Tables are created on
    * first sight of their topic, with that batch's after-struct schema.
    * Exactly-once holds per table (each commits its own epoch marker), so
    * a crash mid-routing re-applies only the not-yet-committed topics.
    */
  final case class Routing(
      tableDirTemplate: String,
      topicColumn: String = "topic",
      /** Per-epoch apply parallelism across topics: each topic's table is
        * independent (own epoch marker, own quarantine partition), so their
        * applies are submitted as concurrent Spark jobs — N topics no
        * longer serialize N driver-side plan+commit regions per epoch.
        * Bounded so one epoch cannot flood the scheduler. */
      maxConcurrentTopics: Int = 4,
      /** Table-name casing applied to the `${topic}` substitution —
        * "preserve" (default) | "upper" | "lower" (reference `uppercase`
        * flag, `.../sink/JdbcSinkConfig.java:270-275`, which upper/lower-
        * cases generated table names for case-folding dialects). */
      tableNameCase: String = "preserve") {
    require(Set("preserve", "upper", "lower")(tableNameCase),
      s"tableNameCase must be preserve|upper|lower, got '$tableNameCase'")
    /** The folded name actually substituted into the template. Topics
      * that fold to the same name are ONE table (and are applied as one
      * union slice — see the routed fan-out).
      */
    def foldTopic(topic: String): String = tableNameCase match {
      case "upper" => topic.toUpperCase(java.util.Locale.ROOT)
      case "lower" => topic.toLowerCase(java.util.Locale.ROOT)
      case _       => topic
    }
    def tableDirFor(topic: String): String =
      tableDirTemplate.replace("${topic}", foldTopic(topic))
  }

  final case class StreamConfig(
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      streamId: String = "cdc",
      spec: MergeSpec = MergeSpec(),
      maxFilesPerTrigger: Option[Int] = None,
      rejectedDir: Option[String] = None,
      availableNow: Boolean = true,
      /** when set, every event is also APPENDED to this IceLite table —
        * the reference's INSERT-mode event log, kept alongside the
        * latest-state view (north star: "append-only event log plus
        * latest-state upsert view") */
      eventLogTableDir: Option[String] = None,
      /** Reference `auto.create` (`.../sink/JdbcSinkConfig.java:138-143`):
        * when false, a table that does not already exist fails the stream
        * instead of being created from the incoming schema — the
        * reference's DbStructure.createOrAmendIfNecessary throws when the
        * table is missing and auto-creation is off. Applies to the state
        * table, the event-log table, and every routed per-topic table. */
      autoCreate: Boolean = true,
      /** multi-table topic routing; None = single-table (tableDir). */
      routing: Option[Routing] = None,
      /** Automatic metadata maintenance: every this many epochs, expire
        * old snapshots (keeping [[keepSnapshots]]) on every table this
        * stream writes, and generationally fold the event log's small
        * files — bounding the snapshot chain, on-disk metadata, and log
        * file count without an operator running maintenance by hand.
        * Snapshot expiry is driver-side file work; the event-log fold is
        * a Spark job costing O(data appended since the last fold). Both
        * run on a BACKGROUND thread (at most one task outstanding), so a
        * cadence epoch never stalls on maintenance. <=0 disables. */
      maintenanceEvery: Int = 64,
      /** Snapshots kept per table by automatic maintenance (time-travel
        * window; expiry deletes orphaned data files of older versions). */
      keepSnapshots: Int = 8,
      /** Grace window for crash-orphan collection
        * ([[graft.table.IceLiteTable.removeOrphanFiles]]), run on the
        * maintenance cadence after snapshot expiry: data files referenced
        * by no reachable snapshot and older than this are deleted
        * (crashed pre-commit writers, abandoned audit stages). Must
        * exceed the longest plausible concurrent staging job — an
        * in-flight writer's files are protected only by their age.
        * Negative disables the sweep. */
      orphanGraceMs: Long = 86400000L,
      /** Downstream change-feed consumers, refreshed on the maintenance
        * cadence (background thread, BEFORE snapshot expiry so their
        * cursors stay inside the retention window): mirror-table dirs
        * ([[graft.operators.Mirror.sync]]) kept tracking the primary
        * state table, created on first sync with its schema. Single-table
        * streams only. A sync failure is logged and retried next cadence,
        * never an ingest failure. */
      downstreamMirrors: Seq[String] = Seq.empty,
      /** Incremental materialized views over the primary state table
        * ([[graft.operators.IncrementalView.refresh]]), maintained on
        * the same cadence: (view table dir, view spec). */
      downstreamViews: Seq[(String, graft.operators.IncrementalView.ViewSpec)] = Seq.empty,
      /** SCD2 version-history tables over the primary state table
        * ([[graft.operators.Scd2History.refresh]]), maintained on the
        * same cadence: history table dirs. */
      downstreamHistories: Seq[String] = Seq.empty)

  /** Start (or resume, given the same checkpointDir) the ingest stream.
    * Creates the table on first use with the log's after-struct schema.
    */
  def start(spark: SparkSession, cfg: StreamConfig): StreamingQuery = {
    val table: Option[IceLiteTable] =
      if (cfg.routing.isDefined) None // routed tables are created on first sight of their topic
      else Some(loadOrCreate(cfg.tableDir, CdcApply.tableStruct(Schemas.transcript, cfg.spec), cfg.spec,
        autoCreate = cfg.autoCreate))
    if (cfg.downstreamMirrors.nonEmpty || cfg.downstreamViews.nonEmpty ||
        cfg.downstreamHistories.nonEmpty)
      require(table.isDefined, "downstream mirrors/views/histories require a single-table stream")
    // downstream handles, cached across cadences like routedTables
    val downstreamTables = scala.collection.concurrent.TrieMap.empty[String, IceLiteTable]
    // routed-table handles, cached across epochs: an IceLiteTable handle
    // memoizes its snapshot fold, so reusing it keeps the per-epoch
    // metadata cost at one diff per table (fresh handles would cold-fold
    // checkpoint + up to CheckpointEvery diffs every epoch) — and it lets
    // maintenance cover EVERY table this stream has written, not just the
    // ones touched in the cadence epoch
    val routedTables = scala.collection.concurrent.TrieMap.empty[String, IceLiteTable]
    val logTable: Option[IceLiteTable] = cfg.eventLogTableDir.map { d =>
      loadOrCreate(d,
        graft.operators.EventLogApply.logSchema(CdcApply.whitelistedStruct(Schemas.transcript, cfg.spec)),
        cfg.spec, autoCreate = cfg.autoCreate)
    }

    // the streamed scan's schema, which only feeds offsets (each batch is
    // re-read with its files' own schema, resolveBatch); routing adds the
    // topic column
    val sourceSchema = cfg.routing match {
      case Some(r) => StructType(Schemas.envelope().fields :+
        org.apache.spark.sql.types.StructField(r.topicColumn, org.apache.spark.sql.types.StringType))
      case None => Schemas.envelope()
    }
    var reader = spark.readStream.schema(sourceSchema)
    cfg.maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val events = reader.parquet(cfg.logDir)

    val writer = events.writeStream
      .queryName(s"graft-${cfg.streamId}")
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        val batch =
          resolveBatch(spark, cfg, epochId, df).drop("chunk")
        // A routed batch's topics: one narrow aggregate over the topic
        // column (topic count is bounded by the upstream subscription). An
        // event with a null topic routes to no table, so it fails the epoch
        // before anything commits instead of vanishing unapplied,
        // unquarantined and uncounted. It runs ahead of the event-log
        // append, so the log never records an epoch no table applied.
        val topics: Seq[String] = cfg.routing.toSeq.flatMap { r =>
          val perTopic = batch.groupBy(col(r.topicColumn).cast("string")).count().collect()
          val unrouted = perTopic.filter(_.isNullAt(0)).map(_.getLong(1)).sum
          if (unrouted > 0L)
            throw new IllegalStateException(s"epoch $epochId: $unrouted event(s) have a null " +
              s"'${r.topicColumn}' and route to no table — fix the topic column upstream")
          perTopic.map(_.getString(0)).sorted.toSeq
        }
        // The event-log append and the state merge are independent jobs
        // against different tables — submit the append concurrently so it
        // overlaps the merge's driver-side planning/commit (the Amdahl
        // serial region) instead of serializing in front of it. Each
        // commits its own epoch marker, so a crash between the two is
        // still exactly-once per table on re-delivery.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val logAppend = logTable.map { lt =>
          Future {
            CdcApply.labelled(spark, "cdc: event-log append") {
              graft.operators.EventLogApply.appendBatch(
                spark, lt, batch.drop(cfg.routing.map(_.topicColumn).toSeq: _*),
                cfg.spec, epoch = Some((cfg.streamId, epochId)))
            }
          }
        }
        cfg.routing match {
          case None =>
            CdcApply.applyBatch(
              spark, table.get, batch, cfg.spec,
              epoch = Some((cfg.streamId, epochId)),
              rejectedDir = cfg.rejectedDir)
          case Some(r) =>
            // Topics whose FOLDED name coincides (tableNameCase) are one
            // table: group them and apply the union slice once — applying
            // them separately under the same (streamId, epochId) marker
            // would silently skip every slice after the first.
            val groups: Seq[(String, Seq[String])] =
              topics.groupBy(r.foldTopic).toSeq.sortBy(_._1).map { case (f, ts) => (f, ts.toSeq.sorted) }

            // Per-topic-table schemas (reference README.md:55-73): a table
            // only carries drift columns with at least one non-null value
            // in its topics' slices. Detection is ONE batch-wide narrow
            // aggregate over only the columns some routed table is missing
            // — no job at all once every table matches the union envelope.
            val afterT = batch.schema("after").dataType.asInstanceOf[StructType]
            // known columns by their event-side names, so a renamed
            // payload column counts as known
            val knownByGroup: Map[String, Option[Set[String]]] = groups.map { case (f, _) =>
              val dir = r.tableDirFor(f) // folding is idempotent on a folded name
              val handle = routedTables.get(dir).orElse(
                if (IceLite.exists(dir)) Some(routedTables.getOrElseUpdate(dir, IceLite.load(dir))) else None)
              f -> handle.map(t => CdcApply.eventSideNames(t.schema, cfg.spec))
            }.toMap
            val candByGroup: Map[String, Seq[String]] = knownByGroup.map { case (f, ks) =>
              f -> afterT.fieldNames.toSeq.filterNot(ks.getOrElse(Set.empty).contains)
            }
            val unionCands = candByGroup.values.flatten.toSeq.distinct
            val liveByTopic: Map[String, Set[String]] =
              if (unionCands.isEmpty) Map.empty
              else {
                val aggs = unionCands.map(c => count(col(s"after.`$c`")).as(c))
                batch.groupBy(col(r.topicColumn).cast("string").as("__topic"))
                  .agg(aggs.head, aggs.tail: _*)
                  .collect().map { row =>
                    row.getString(0) -> unionCands.filter(c => row.getAs[Long](c) > 0L).toSet
                  }.toMap
              }

            // bounded-concurrency fan-out: per-table applies are
            // independent Spark jobs + commits; running them on a small
            // pool overlaps their driver-side planning/commit regions
            // (serial per-topic application measured as N x epoch latency)
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.max(1, math.min(groups.length, r.maxConcurrentTopics)))
            val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
            try {
              val applies = groups.map { case (folded, ts) =>
                Future(CdcApply.labelled(spark, s"cdc: routed apply ($folded)") {
                  val dir = r.tableDirFor(folded)
                  val slice0 = batch.filter(col(r.topicColumn).isin(ts: _*)).drop(r.topicColumn)
                  val live = ts.flatMap(t => liveByTopic.getOrElse(t, Set.empty)).toSet
                  val slice = CdcApply.routedSlice(slice0,
                    n => knownByGroup(folded).exists(_.contains(n)) || live.contains(n), cfg.spec)
                  val tbl = routedTables.getOrElseUpdate(dir, loadOrCreate(dir,
                    CdcApply.tableStruct(slice.schema("after").dataType.asInstanceOf[StructType], cfg.spec),
                    cfg.spec, autoCreate = cfg.autoCreate))
                  CdcApply.applyBatch(
                    spark, tbl, slice, cfg.spec,
                    epoch = Some((cfg.streamId, epochId)),
                    rejectedDir = cfg.rejectedDir.map(d => s"$d/topic=$folded"))
                  tbl
                })(ec)
              }
              applies.map(Await.result(_, Duration.Inf))
            } finally { ec.shutdown() }
        }
        logAppend.foreach(Await.result(_, Duration.Inf))
        // Automatic metadata maintenance on a cadence, OFF the ingest
        // path: the generational event-log fold is a Spark job costing
        // O(data appended since the last fold) and snapshot expiry is
        // driver-side file work — paying either inside foreachBatch
        // stalls the cadence epoch (measured 29.8s worst vs ~3s median
        // over 197 epochs when inline). Submitted as ONE background task
        // on a dedicated thread; at most one outstanding (a still-running
        // task skips this cadence — the next one catches up). Safe to
        // overlap ingestion: the event-log compact's commit race-guards
        // against concurrent appends (changed buckets are dropped from
        // the compaction commit), and expiry never touches files
        // referenced by surviving snapshots. A maintenance failure can
        // never fail an ingest epoch: the task body is try/logged
        // (reference anchor: the RDBMS amortizes index maintenance off
        // the connector's commit path, /root/reference/README.md:19-24).
        if (cfg.maintenanceEvery > 0 && (epochId + 1) % cfg.maintenanceEvery == 0) {
          val key = cfg.checkpointDir
          val queued = maintenanceQueued.getOrElseUpdate(
            key, new java.util.concurrent.atomic.AtomicBoolean(false))
          def runMaintenance(): Unit = CdcApply.labelled(spark, "cdc: maintenance") {
            try {
              // own scheduler pool: under spark.scheduler.mode=FAIR the
              // maintenance job SHARES task slots with the overlapping
              // ingest epochs instead of head-of-line blocking them
              // (FIFO would drain the compact job's stages first on a
              // saturated cluster); a no-op under default FIFO
              spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-maintenance")
              logTable.foreach(_.compact(spark, maxFilesPerBucket = 8,
                onlySmallerThan = 64L << 20))
              // downstream consumers BEFORE expiry: syncing first keeps
              // their cursors inside the retention window the expiry is
              // about to enforce. Per-target try: one broken target must
              // not starve the others (each retries next cadence).
              table.foreach { src =>
                def target(d: String, schema: => org.apache.spark.sql.types.StructType) =
                  downstreamTables.getOrElseUpdate(d,
                    if (IceLite.exists(d)) IceLite.load(d)
                    else IceLite.create(d, schema, src.numBuckets))
                cfg.downstreamMirrors.foreach { d =>
                  try graft.operators.Mirror.sync(spark, src, target(d, src.schema))
                  catch { case NonFatal(e) => System.err.println(
                    s"[graft] WARN downstream mirror $d sync failed (retried next cadence): $e") }
                }
                cfg.downstreamViews.foreach { case (d, vs) =>
                  try graft.operators.IncrementalView.refresh(spark, src,
                    target(d, graft.operators.IncrementalView.viewSchema(spark, src, vs)), vs)
                  catch { case NonFatal(e) => System.err.println(
                    s"[graft] WARN downstream view $d refresh failed (retried next cadence): $e") }
                }
                cfg.downstreamHistories.foreach { d =>
                  try graft.operators.Scd2History.refresh(spark, src,
                    target(d, graft.operators.Scd2History.historySchema(src.schema)))
                  catch { case NonFatal(e) => System.err.println(
                    s"[graft] WARN downstream history $d refresh failed (retried next cadence): $e") }
                }
              }
              // Consumer-cursor-pinned retention on the SOURCE table: a
              // target whose sync just failed holds a cursor older than
              // this cadence; expiring past it would wedge the target
              // permanently (its next sync needs snapshot(cursor) as the
              // feed baseline). Iceberg-refs/Kafka-consumer-offset shape:
              // registered consumers pin retention (bootstrapping targets
              // with no cursor yet pin nothing — a bootstrap reads the
              // CURRENT version).
              val srcCursors = table.toSeq.flatMap { src =>
                cfg.downstreamMirrors.flatMap(d =>
                  downstreamTables.get(d).flatMap(t => graft.operators.Mirror.cursor(src, t))) ++
                  cfg.downstreamViews.flatMap { case (d, _) =>
                    downstreamTables.get(d).flatMap(t =>
                      graft.operators.IncrementalView.cursor(src, t)) } ++
                  cfg.downstreamHistories.flatMap(d =>
                    downstreamTables.get(d).flatMap(t =>
                      graft.operators.Scd2History.cursor(src, t)))
              }
              table.foreach { src =>
                val keep = pinnedKeep(cfg.keepSnapshots, src.currentVersion, srcCursors)
                if (keep > 4 * math.max(1, cfg.keepSnapshots)) System.err.println(
                  s"[graft] WARN stream '${cfg.streamId}': a downstream consumer's cursor pins " +
                    s"$keep snapshots on ${src.dir} (base ${cfg.keepSnapshots}) — a repeatedly " +
                    "failing mirror/view holds back snapshot expiry until it recovers")
                src.expireSnapshots(keep)
              }
              (routedTables.values ++ logTable ++ downstreamTables.values)
                .toSeq.distinct
                .foreach(_.expireSnapshots(cfg.keepSnapshots))
              // crash-orphan sweep AFTER expiry (expiry's dead-ref pass
              // shrinks the live set first): collects files no reachable
              // snapshot references, behind the age grace that protects
              // in-flight writers
              if (cfg.orphanGraceMs >= 0)
                (table.toSeq ++ routedTables.values ++ logTable ++ downstreamTables.values)
                  .distinct
                  .foreach(_.removeOrphanFiles(cfg.orphanGraceMs))
            } catch {
              case NonFatal(e) =>
                System.err.println(s"[graft] WARN maintenance for stream '${cfg.streamId}' " +
                  s"failed (ingest unaffected; retried next cadence): $e")
            }
          }
          // Coalescing submission with no lost-wakeup window: mark a run
          // due, then chain ONE drain task behind whatever is pending on
          // the single-threaded maintenance executor. Every cadence
          // chains a drain; only the first to observe the flag runs the
          // maintenance, the rest no-op — N cadences firing during one
          // long pass still coalesce into one catch-up. (The previous
          // isCompleted check raced the task's own finally-drain: the
          // flag could be set after the drain but before the Future was
          // marked complete, stranding the catch-up until the next
          // cadence — forever, for availableNow streams.)
          queued.set(true)
          val prev = pendingMaintenance.getOrElse(key, Future.unit)
          // transform (not map): chain even if a previous task died on a
          // fatal error — one poisoned future must not disable the
          // maintenance cadence for the rest of the stream's life
          pendingMaintenance(key) = prev.transform { _ =>
            scala.util.Try { if (queued.getAndSet(false)) runMaintenance() }
          }(maintenanceEc)
        }
        ()
      }
    (if (cfg.availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** keepLast for a source table with registered downstream consumers:
    * retention must reach back to the oldest consumer cursor (inclusive —
    * the next incremental sync reads `snapshot(cursor)` as its feed
    * baseline), floored at the configured base window.
    */
  private[graft] def pinnedKeep(base: Int, currentVersion: Long, cursors: Seq[Long]): Int =
    if (cursors.isEmpty) base
    else math.max(base, (currentVersion - cursors.min + 1).toInt)

  private def loadOrCreate(
      dir: String, schema: StructType, spec: MergeSpec, autoCreate: Boolean): IceLiteTable =
    if (IceLite.exists(dir)) IceLite.load(dir)
    else if (!autoCreate)
      throw new IllegalStateException(
        s"auto.create=false: table at '$dir' does not exist — create it explicitly or enable autoCreate")
    else IceLite.create(dir, schema, spec.numBuckets)

  /** Re-read the epoch's files as a fresh batch scan with footer-merged
    * schema, so drift columns in new files are visible this epoch. The
    * file set comes from the checkpoint's file-source log (driver-side
    * file read, no Spark job); if that ever fails to parse, fall back to
    * a `_metadata.file_path` distinct over the streamed scan (one narrow
    * job). The footer merge itself runs as a Spark job; both carry the
    * label "cdc: batch schema". The streamed DataFrame itself is never
    * executed on this path — it is only the offset-tracking feed.
    */
  private def resolveBatch(
      spark: SparkSession, cfg: StreamConfig, epochId: Long, df: DataFrame): DataFrame = {
    CdcApply.labelled(spark, "cdc: batch schema") {
      val files = batchFiles(cfg.checkpointDir, epochId)
        .getOrElse(df.select(col("_metadata.file_path")).distinct()
          .collect().map(_.getString(0)).toSeq)
      if (files.isEmpty) df
      else spark.read.option("mergeSchema", "true").parquet(files: _*)
    }
  }

  /** Parse `checkpoint/sources/0/<batchId>` (Spark's file-source log: a
    * `v1` header then one JSON entry per admitted file; compacted batches
    * carry the whole history, tagged by `batchId`). Returns None on any
    * surprise so the caller can fall back.
    */
  private[streaming] def batchFiles(checkpointDir: String, batchId: Long): Option[Seq[String]] = {
    try {
      val dir = Paths.get(checkpointDir, "sources", "0")
      val plain = dir.resolve(batchId.toString)
      val f = if (Files.exists(plain)) plain else dir.resolve(s"$batchId.compact")
      if (!Files.exists(f)) return None
      val lines = Files.readAllLines(f).asScala
      if (lines.isEmpty || lines.head.trim != "v1") return None
      // full JSON parse per entry (not a regex scan): a path containing
      // any escape (\", \uXXXX, ...) must round-trip exactly or be
      // rejected — the contract is "never a wrong file list"
      val mapper = new ObjectMapper()
      val out = Vector.newBuilder[String]
      val it = lines.iterator.drop(1).filter(_.trim.nonEmpty)
      while (it.hasNext) {
        val node = mapper.readTree(it.next()) // malformed line -> catch -> None
        val path = node.get("path")
        val bid = node.get("batchId")
        if (path == null || bid == null || !path.isTextual) return None // format surprise
        if (bid.asLong() == batchId) out += path.asText()
      }
      val files = out.result()
      // no entries for this batch = either a legitimately empty batch or a
      // format surprise — be conservative, let the caller fall back
      if (files.isEmpty) None else Some(files)
    } catch { case NonFatal(_) => None }
  }

  /** Run to completion over the currently-available log and return the
    * table. Waits for any in-flight background maintenance so callers can
    * safely inspect or delete the table directories afterwards.
    */
  def runAvailable(spark: SparkSession, cfg: StreamConfig): IceLiteTable = {
    val q = start(spark, cfg.copy(availableNow = true))
    q.awaitTermination()
    awaitMaintenance(cfg.checkpointDir)
    IceLite.load(cfg.tableDir)
  }
}
