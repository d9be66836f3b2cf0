package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI demo/smoke driver for the engine: generates a deterministic
  * change-event log, replays it through the CDC merge into an IceLite
  * transcripts table in batches, then answers a point query with bucket
  * pruning and prints the commit lineage.
  *
  * Usage: runMain graft.Demo [numEvents] [numBatches]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val numEvents = args.headOption.map(_.toLong).getOrElse(50000L)
    val numBatches = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.gen.ChangeLogGen
    import graft.operators.{CdcApply, MergeEngine}
    import graft.table.IceLite

    val dir = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val cfg = ChangeLogGen.GenConfig(numEvents = numEvents, numConvs = 500, maxTurns = 40)
    val log = ChangeLogGen.events(spark, cfg)

    val schema = log.schema("after").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val table = IceLite.create(s"$dir/transcripts", schema, numBuckets = 16)

    val batchSize = (numEvents + numBatches - 1) / numBatches
    val t0 = System.nanoTime()
    (0 until numBatches).foreach { b =>
      val batch = log.filter(col("offset") >= b * batchSize && col("offset") < (b + 1) * batchSize)
      val res = CdcApply.applyBatch(spark, table, batch, epoch = Some(("demo", b.toLong)))
      println(s"[demo] epoch $b: applied=${res.eventsSeen} rowsWritten=${res.rowsWritten} " +
        s"deltaFilesAdded=${res.snapshot.metrics.getOrElse("deltaFilesAdded", 0L)} snapshotV=${res.snapshot.version}")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val state = table.read(spark)
    val n = state.count()
    println(f"[demo] replayed $numEvents events in $secs%.1fs (${numEvents / secs}%.0f ev/s) -> $n latest-state rows")

    // idempotent re-delivery of the last epoch
    val redo = CdcApply.applyBatch(spark, table,
      log.filter(col("offset") >= (numBatches - 1) * batchSize),
      epoch = Some(("demo", (numBatches - 1).toLong)))
    println(s"[demo] re-delivered epoch ${numBatches - 1}: skipped=${redo.skipped}")

    // change-feed egress: bootstrap a downstream mirror at the penultimate
    // version, then catch up incrementally over the last commit's feed
    val mirrorT = IceLite.create(s"$dir/mirror", schema, table.numBuckets)
    val boot = graft.operators.Mirror.sync(spark, table, mirrorT, toVersion = table.currentVersion - 1)
    val incr = graft.operators.Mirror.sync(spark, table, mirrorT)
    println(s"[demo] mirror: bootstrap@v${boot.toVersion} rows=${boot.result.rowsWritten}; " +
      s"incremental (${incr.fromVersion.getOrElse(-1L)}, ${incr.toVersion}] " +
      s"rows=${incr.result.rowsWritten}; state matches source: ${mirrorT.read(spark).count() == n}")

    // incremental materialized view: per-role turn counts maintained
    // O(changes) per refresh (bootstrap at the penultimate version, then
    // one incremental refresh over the last commit's feed)
    import graft.operators.IncrementalView
    val vspec = IncrementalView.ViewSpec(
      dims = Seq("role" -> col("role")),
      sums = Seq("chars" -> length(col("text")).cast("long")))
    val viewT = IceLite.create(s"$dir/view",
      IncrementalView.viewSchema(spark, table, vspec), 8)
    IncrementalView.refresh(spark, table, viewT, vspec, toVersion = table.currentVersion - 1)
    IncrementalView.refresh(spark, table, viewT, vspec)
    val viewRows = IncrementalView.read(spark, viewT, vspec)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val recomputed = state.groupBy("role")
      .agg(count(lit(1)).as("cnt"), sum(length(col("text")).cast("long")).as("chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    println(s"[demo] incremental view (by role): ${viewRows.mkString(", ")}; " +
      s"matches full recompute: ${viewRows.sameElements(recomputed)}")

    // point query with bucket pruning
    val conv = state.select("conv_id").orderBy("conv_id").limit(1).collect()(0).getString(0)
    val bucket = spark.range(1)
      .select(MergeEngine.bucketOf(lit(conv), table.numBuckets)).collect()(0).getInt(0)
    val pruned = table.read(spark, Some(Set(bucket))).filter(col("conv_id") === conv)
    def files(b: Option[Set[Int]]) = table.dataFiles(b).size + table.deltaFiles(b).size
    println(s"[demo] point query conv=$conv bucket=$bucket -> ${pruned.count()} turns " +
      s"(scanned ${files(Some(Set(bucket)))} of ${files(None)} base+delta files)")
    pruned.orderBy("turn_idx").show(5, truncate = 60)

    // merge-on-read maintenance: fold outstanding deltas into base files
    val morCompacted = table.compactDeltas(spark)
    println(s"[demo] compacted $morCompacted delta buckets -> " +
      s"${table.dataFiles().size} base files, ${table.deltaFiles().size} delta files; " +
      s"state rows unchanged: ${table.read(spark).count() == n}")

    println(s"[demo] snapshot properties: ${table.current.properties.toSeq.sortBy(_._1).mkString(", ")}")

    // streaming with BOTH tables: append-only event log + latest-state view
    ChangeLogGen.writeLog(spark,
      ChangeLogGen.GenConfig(numEvents = 5000, numConvs = 50, maxTurns = 10), s"$dir/log", chunks = 2)
    val sc = graft.streaming.CdcStream.StreamConfig(
      s"$dir/log", s"$dir/state", s"$dir/ckpt",
      eventLogTableDir = Some(s"$dir/eventlog"))
    val stateTable = graft.streaming.CdcStream.runAvailable(spark, sc)
    val eventLog = graft.table.IceLite.load(s"$dir/eventlog")
    println(s"[demo] streamed: state=${stateTable.read(spark).count()} rows, " +
      s"event-log=${eventLog.read(spark).count()} rows (append-only, with _partition/_offset lineage)")

    // maintenance: compaction + snapshot expiry + crash-orphan sweep
    val compacted = eventLog.compact(spark, maxFilesPerBucket = 1)
    val (snaps, orphans) = stateTable.expireSnapshots(keepLast = 1)
    // plant an aged never-committed file (a crashed pre-commit writer)
    // and collect it — the class expiry's dead-ref pass cannot see
    val crashDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/state/data/crashed-writer/bucket=0"))
    val dead = crashDir.resolve("part-dead.parquet")
    java.nio.file.Files.write(dead, "junk".getBytes)
    java.nio.file.Files.setLastModifiedTime(dead,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 172800000L))
    val swept = stateTable.removeOrphanFiles()
    println(s"[demo] maintenance: compacted $compacted buckets; expired $snaps snapshots, " +
      s"deleted $orphans orphan files, swept $swept crash orphan(s)")
    println(s"[demo] event-log rows after compaction: ${eventLog.read(spark).count()}")

    // named refs + rollback + bucket-count evolution (B10/B11): pin the
    // streamed state under a name, widen the layout, roll back to the tag
    val nb0 = stateTable.numBuckets
    val tagged = stateTable.tag("demo-run")
    val rowsTagged = stateTable.read(spark).count()
    stateTable.rebucket(spark, nb0 * 2)
    val rowsWide = stateTable.read(spark).count()
    stateTable.rollback(tagged)
    println(s"[demo] refs+layout: tagged v$tagged as 'demo-run'; rebucket $nb0 -> ${nb0 * 2} " +
      s"preserved rows: ${rowsTagged == rowsWide}; rollback to tag -> " +
      s"numBuckets=${stateTable.numBuckets} at v${stateTable.currentVersion}")

    // write-audit-publish (B12): stage a batch under an audit name
    // (pointer untouched), run an audit query on the would-be state,
    // then publish it as one atomic commit
    val vPre = table.currentVersion
    val wapRes = CdcApply.applyBatch(spark, table,
      log.filter(col("offset") < batchSize),
      epoch = Some(("demo-wap", 0L)), auditRef = Some("wap-demo"))
    val auditState = table.readAudit(spark, "wap-demo")
    val emptyTexts = auditState.filter(col("text").isNull || length(col("text")) === 0).count()
    val published = table.publishAudit("wap-demo")
    println(s"[demo] write-audit-publish: staged ${wapRes.eventsSeen} events as 'wap-demo' " +
      s"(pointer held at v$vPre), audit found $emptyTexts empty texts in " +
      s"${auditState.count()} would-be rows, published -> v${published.version}")

    // multi-schema payload classification + typed extraction (reference
    // value.converter.schema.names + extract/Cast-SMT): two JSON shapes
    // on one topic, each with its own typed extract columns; an unmatched
    // payload quarantines
    import graft.model.{ExtractField, MergeSpec, PayloadSchema}
    val msTable = IceLite.create(s"$dir/multischema", schema, 4)
    val msSpec = MergeSpec(payloadSchemas = Seq(
      PayloadSchema("chat", "$.msg", Seq(
        ExtractField("kind", "$.msg.kind"), ExtractField("score", "$.msg.score", "int"))),
      PayloadSchema("toolcall", "$.call", Seq(
        ExtractField("kind", "$.call.tool"), ExtractField("score", "$.call.latency", "int")))))
    val msEvents = log.filter(col("offset") < 3).withColumn("after",
      when(col("after").isNotNull, struct(
        col("after.conv_id"), col("after.turn_idx"), col("after.role"),
        when(pmod(col("offset"), lit(3)) === 0, lit("""{"msg":{"kind":"greeting","score":9}}"""))
          .when(pmod(col("offset"), lit(3)) === 1, lit("""{"call":{"tool":"search","latency":42}}"""))
          .otherwise(lit("""{"other":true}""")).as("text"),
        col("after.tool"), col("after.ts"))))
      // materialized: stacking the payload-rewrite when() on top of the
      // generator's expression graph and inlining it once per extract
      // column blows janino's 64KB method limit (interpreted fallback,
      // logged as a codegen ERROR). Production ingest reads events from
      // storage — extraction there sees plain attributes, never this.
      .localCheckpoint()
    val msRes = CdcApply.applyBatch(spark, msTable, msEvents, msSpec,
      epoch = Some(("ms", 0L)), rejectedDir = Some(s"$dir/ms-rej"))
    val msRows = msTable.read(spark).select("conv_id", "kind", "score")
      .orderBy("conv_id").collect()
      .map(r => s"${r.getString(0)}:${r.getString(1)}:${r.get(2)}").mkString(", ")
    println(s"[demo] multi-schema: classified ${msRes.eventsSeen - msRes.rejected} payloads " +
      s"(quarantined ${msRes.rejected} unmatched) -> typed columns [$msRows]; " +
      s"score type=${msTable.schema("score").dataType.simpleString}")

    // dead-letter replay (B14): fix the unmatched payload (project `after`
    // back to the source shape + rewrite the text into a matching schema)
    // and re-ingest it exactly-once; the consumed quarantine partition is
    // archived after the commit
    val dlqRes = graft.operators.DeadLetter.replay(spark, msTable, s"$dir/ms-rej",
      epoch = ("ms-dlq", 0L), spec = msSpec) { df =>
      df.withColumn("after", when(col("after").isNotNull, struct(
        col("after.conv_id").as("conv_id"), col("after.turn_idx").as("turn_idx"),
        col("after.role").as("role"),
        lit("""{"msg":{"kind":"recovered","score":1}}""").as("text"),
        col("after.tool").as("tool"), col("after.ts").as("ts"))))
    }
    println(s"[demo] dead-letter replay: consumed ${dlqRes.consumed}, healed ${dlqRes.healed}, " +
      s"requeued ${dlqRes.requeued}, archived ${dlqRes.archivedPartitions} partition(s) -> " +
      s"table now ${msTable.read(spark).count()} rows, " +
      s"recovered kind=${msTable.read(spark).filter(col("kind") === "recovered").count()}")

    // metadata tables: the observability surface (tbl.snapshots/files/refs)
    val snapsDf = graft.table.MetaTables.snapshots(spark, table)
    val filesDf = graft.table.MetaTables.files(spark, table)
    val health = filesDf.groupBy("kind")
      .agg(count(lit(1)).as("n"), sum("row_count").as("rows"))
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}f/${r.getLong(2)}r")
      .sorted.mkString(", ")
    println(s"[demo] metadata tables: ${snapsDf.count()} retained snapshots " +
      s"(current v${table.currentVersion}); live files: $health; " +
      s"refs: ${graft.table.MetaTables.refs(spark, table).count()}")
    spark.stop()
  }
}
