package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.gen.ChangeLogGen
import graft.model.ChangeEvent
import graft.streaming.CdcStream
import graft.table.IceLite

class StreamingSpec extends SparkSuite {
  import TestHelpers._

  private def collectLog(df: org.apache.spark.sql.DataFrame): Seq[ChangeEvent] = {
    import spark.implicits._
    df.withColumnRenamed("schema_v", "schemaV").drop("chunk").as[ChangeEvent].collect().toSeq
  }

  private def stateTriples(t: graft.table.IceLiteTable) =
    readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text))

  private def oracleTriples(evs: Seq[ChangeEvent]) =
    OracleFold.rows(OracleFold.finalState(evs)).map(x => (x.conv_id, x.turn_idx, x.text))

  test("streamed replay over file source equals oracle, multiple epochs (schemaMode=drift)") {
    val root = tmpDir("stream-basic-drift")
    val cfg = ChangeLogGen.GenConfig(numEvents = 5000, numConvs = 60, maxTurns = 10, logPartitions = 4)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 3)

    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt",
      maxFilesPerTrigger = Some(1))
    val table = CdcStream.runAvailable(spark, sc)

    assert(table.current.properties("epoch:cdc").toLong >= 2, "expected multiple epochs")
    val evs = collectLog(spark.read.parquet(s"$root/log"))
    assert(stateTriples(table) == oracleTriples(evs))
  }

  test("auto.create=false: a missing state table fails the stream; a pre-created one streams fine") {
    val root = tmpDir("stream-nocreate")
    val cfg = ChangeLogGen.GenConfig(numEvents = 500, numConvs = 10, maxTurns = 5, logPartitions = 2)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 1)
    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt", autoCreate = false)
    val e = intercept[Exception](CdcStream.runAvailable(spark, sc))
    def root0(t: Throwable): Throwable = if (t.getCause == null) t else root0(t.getCause)
    assert(root0(e).getMessage.contains("auto.create=false"), root0(e).getMessage)
    // pre-create the table: the same config now streams to completion
    graft.table.IceLite.create(s"$root/table2", graft.model.Schemas.transcript, 8)
    val table = CdcStream.runAvailable(spark,
      sc.copy(tableDir = s"$root/table2", checkpointDir = s"$root/ckpt2"))
    assert(stateTriples(table) == oracleTriples(collectLog(spark.read.parquet(s"$root/log"))))
  }

  test("fields.whitelist end-to-end: state AND event-log tables carry only whitelisted columns") {
    val root = tmpDir("stream-whitelist")
    val cfg = ChangeLogGen.GenConfig(numEvents = 1500, numConvs = 20, maxTurns = 6, logPartitions = 2)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 2)
    val spec = graft.model.MergeSpec(fieldsWhitelist = Seq("role", "text"))
    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt",
      spec = spec, eventLogTableDir = Some(s"$root/logtbl"))
    val table = CdcStream.runAvailable(spark, sc)

    def fields(json: String): Seq[String] = org.apache.spark.sql.types.DataType
      .fromJson(json).asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    // first-sight creation + ingest projection agree: tool/ts never land
    assert(fields(table.current.schemaJson) == Seq("conv_id", "turn_idx", "role", "text"))
    val logAfter = org.apache.spark.sql.types.DataType
      .fromJson(IceLite.load(s"$root/logtbl").current.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]("after")
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(logAfter.fieldNames.toSeq == Seq("conv_id", "turn_idx", "role", "text"),
      "the raw event log must not retain dropped (PII) columns either")
    // whitelisting must not perturb the fold on surviving columns
    // (select, not the TranscriptTurn decoder — tool/ts don't exist here)
    val got = table.read(spark).select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(x => (x._1, x._2)).toSeq
    val evs = collectLog(spark.read.parquet(s"$root/log"))
    assert(got == oracleTriples(evs))
  }

  test("event-log append jobs carry their own label; the planning label stays on planning jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val root = tmpDir("stream-joblabels")
    val cfg = ChangeLogGen.GenConfig(numEvents = 3000, numConvs = 30, maxTurns = 6, logPartitions = 2)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 3)
    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt",
      maxFilesPerTrigger = Some(1), eventLogTableDir = Some(s"$root/logtbl"))
    // SQL execution id -> its physical plan; each job's execution id and label
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Option[Long], String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
        case _                                 =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.add((p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
          p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val table =
      try { val t = CdcStream.runAvailable(spark, sc); Thread.sleep(1000); t } // listener bus drain
      finally spark.sparkContext.removeSparkListener(listener)
    assert(table.current.properties("epoch:cdc").toLong >= 2, "expected multiple epochs")
    val seen = jobs.asScala.toSeq.map { case (id, desc) =>
      (id.flatMap(i => Option(plans.get(i))).getOrElse(""), desc)
    }
    // the append's jobs: those of the executions that write the log table
    val append = seen.filter(_._1.contains(s"$root/logtbl/"))
    assert(append.nonEmpty, "no job wrote the event-log table")
    assert(append.forall(_._2 == "cdc: event-log append"), append.map(_._2).distinct)
    val planning = seen.filter(_._2 == "cdc: planning aggregate")
    assert(planning.nonEmpty)
    assert(planning.forall(_._1.contains("max_off")),
      planning.filterNot(_._1.contains("max_off")).map(_._1.take(300)))
  }

  test("every job of a streamed epoch with quarantine and compaction carries a cdc: label") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = tmpDir("stream-alllabelled")
    val cfg = ChangeLogGen.GenConfig(numEvents = 2000, numConvs = 20, maxTurns = 6, logPartitions = 1)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 3)
    // one more file in the middle chunk: two invalid envelopes and a valid insert
    val chunk1 = Paths.get(s"$root/log/chunk=1")
    val bad = ChangeEvent(0, 990000L, ts(990000L), "bogus", "zz", Some(0), Some(turn("zz", 0, "bad", 990000L)), 2)
    eventsDF(spark, Seq(bad, bad.copy(offset = 990001L), ins(990002L, "zz", 1, "good")))
      .withColumnRenamed("schemaV", "schema_v").coalesce(1).write.parquet(s"$root/extra")
    val extra = Files.list(Paths.get(s"$root/extra")).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val moved = Files.move(extra, chunk1.resolve("part-extra.parquet"))
    Files.setLastModifiedTime(moved, Files.list(chunk1).iterator.asScala
      .filter(_ != moved).map(Files.getLastModifiedTime(_)).toSeq.head)
    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt",
      spec = graft.model.MergeSpec(morCompactThreshold = 0), maxFilesPerTrigger = Some(1),
      rejectedDir = Some(s"$root/rej"))
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        labels.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    // no size-based broadcast, so only the engine's own hint broadcasts
    // the wipe set: without it the fold's job count below changes
    val table =
      try withBroadcastThreshold(spark, -1) {
        val t = CdcStream.runAvailable(spark, sc); Thread.sleep(1000); t // listener bus drain
      } finally spark.sparkContext.removeSparkListener(listener)
    val snaps = table.versions.map(table.snapshot)
    assert(snaps.exists(_.metrics.contains("bucketsCompacted")), "no epoch compacted")
    assert(snaps.flatMap(_.metrics.get("rejected")).sum == 2L, "the invalid envelopes were not quarantined")
    val seen = labels.asScala.toSeq
    assert(seen.contains("cdc: quarantine write") && seen.contains("cdc: compaction"), seen.distinct)
    assert(seen.forall(_.startsWith("cdc:")), seen.filterNot(_.startsWith("cdc:")).distinct)

    // the jobs each label starts per epoch (an epoch opens with its batch
    // schema job): one planning aggregate and one fold + delta write under
    // the epoch's seq, a quarantine write only in the epoch that holds the
    // rejects, one compaction job per compacted bucket. An epoch with
    // series deletes also runs its broadcast wipe aggregate under the
    // fold's label: two jobs (any other count means an unhinted wipe
    // join, which shuffles the payload).
    val perEpoch = seen.foldLeft(Vector.empty[Vector[String]]) { (acc, l) =>
      if (l == "cdc: batch schema") acc :+ Vector(l) else acc.init :+ (acc.last :+ l)
    }.map(_.groupMapReduce(identity)(_ => 1)(_ + _))
    val applied = snaps.filter(_.metrics.contains("eventsApplied"))
    assert(perEpoch.size == applied.size, perEpoch)
    val wiped = perEpoch.zip(applied).map { case (jobs, s) =>
      val v = s.version
      val wipes = spark.read.parquet(s.deltas.values.flatten.toSeq.distinct.map(f => s"${table.dir}/$f"): _*)
        .filter(col("action") === graft.model.NetAction.Wipe).count() > 0
      val want = Map(
        "cdc: batch schema" -> 1, "cdc: planning aggregate" -> 1,
        s"cdc: fold + delta write (seq $v)" -> (if (wipes) 2 else 1),
        "cdc: compaction" -> table.snapshot(v + 1).metrics("bucketsCompacted").toInt) ++
        (if (s.metrics("rejected") > 0L) Map("cdc: quarantine write" -> 1) else Map.empty)
      assert(jobs == want, s"epoch committing v$v")
      wipes
    }
    assert(wiped.contains(true), "no epoch held a series wipe")
    assert(perEpoch.count(_.contains("cdc: quarantine write")) == 1)
  }

  test("one-file epochs fold, write deltas and append the event log with no shuffle; the decision runs no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val root = tmpDir("stream-onetask")
    // one log partition: each chunk is one small file, each epoch one file
    val cfg = ChangeLogGen.GenConfig(numEvents = 3000, numConvs = 30, maxTurns = 6, logPartitions = 1)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 3)
    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt",
      maxFilesPerTrigger = Some(1), eventLogTableDir = Some(s"$root/logtbl"))
    // stage id -> its job's label; (label, shuffle bytes written) per task
    val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val taskShuffle = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        labels.add(label)
        e.stageIds.foreach(stageLabel.put(_, label))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null)
        taskShuffle.add((stageLabel.getOrDefault(e.stageId, ""),
          e.taskMetrics.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    val table =
      try { val t = CdcStream.runAvailable(spark, sc); Thread.sleep(1000); t } // listener bus drain
      finally spark.sparkContext.removeSparkListener(listener)
    assert(table.current.properties("epoch:cdc").toLong >= 2, "expected multiple epochs")
    val cdc = taskShuffle.asScala.toSeq.filter(_._1.startsWith("cdc:"))
      .groupMapReduce(_._1)(_._2)(_ + _)
    assert(labels.asScala.exists(_.startsWith("cdc: fold + delta write")) &&
      labels.asScala.exists(_ == "cdc: event-log append"), labels.asScala.toSeq.distinct)
    assert(cdc.values.forall(_ == 0L), cdc)
    assert(stateTriples(table) == oracleTriples(collectLog(spark.read.parquet(s"$root/log"))))

    // the decision itself, on a streamed micro-batch and on a batch whose
    // plan is adaptive (a join), starts no Spark job under its label
    val decided = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Boolean)]()
    val probeJobs = new java.util.concurrent.atomic.AtomicInteger()
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "one-task probe"))
          probeJobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(probe)
    try {
      spark.readStream.schema(graft.model.Schemas.envelope()).option("maxFilesPerTrigger", 1)
        .parquet(s"$root/log").writeStream
        .option("checkpointLocation", s"$root/ckpt-probe")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.CdcApply.labelled(spark, "one-task probe") {
            decided.add((graft.operators.MergeEngine.plansOneTask(df),
              graft.operators.MergeEngine.plansOneTask(df.join(df.select("conv_id").distinct(), "conv_id"))))
          }
          ()
        }
        .start().awaitTermination()
      Thread.sleep(1000) // listener bus drain
    } finally spark.sparkContext.removeSparkListener(probe)
    assert(probeJobs.get == 0, s"${probeJobs.get} job(s) ran inside the decision")
    assert(decided.size >= 2, decided)
    assert(decided.asScala.forall(_ == ((true, false))), decided)
  }

  test("a one-task epoch adds one delta file and one event-log file, listed under exactly its rows' buckets") {
    val root = tmpDir("stream-epochfile")
    val cfg = ChangeLogGen.GenConfig(numEvents = 2400, numConvs = 40, maxTurns = 6, logPartitions = 1)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 3)
    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt",
      maxFilesPerTrigger = Some(1), eventLogTableDir = Some(s"$root/logtbl"))
    val table = CdcStream.runAvailable(spark, sc)
    val logTable = IceLite.load(s"$root/logtbl")
    def listings(m: Map[Int, Seq[String]]): Map[String, Set[Int]] =
      m.toSeq.flatMap { case (b, fs) => fs.map(_ -> b) }.groupMap(_._1)(_._2).map { case (f, bs) => f -> bs.toSet }
    // per epoch commit: the files it added, each with the buckets listing it
    def added(t: graft.table.IceLiteTable, metric: String, files: IceLite.Snapshot => Map[Int, Seq[String]]) =
      t.versions.filter(v => v > 1 && t.snapshot(v).metrics.contains(metric)).map { v =>
        val before = listings(files(t.snapshot(v - 1)))
        listings(files(t.snapshot(v))).filter { case (f, _) => !before.contains(f) }
      }
    def rowBuckets(t: graft.table.IceLiteTable, rel: String): Set[Int] =
      spark.read.parquet(s"${t.dir}/$rel").select(IceLite.bucketOf(col("conv_id"), t.numBuckets))
        .distinct().collect().map(_.getInt(0)).toSet
    val deltas = added(table, "deltaFilesAdded", _.deltas)
    val appends = added(logTable, "bucketsAppended", _.files)
    assert(deltas.size == 3 && appends.size == 3, s"${deltas.size} applies, ${appends.size} appends")
    for ((t, epochs) <- Seq(table -> deltas, logTable -> appends); files <- epochs) {
      assert(files.size == 1, s"${t.dir}: an epoch added ${files.size} files")
      val (f, bs) = files.head
      assert(bs.size > 1 && bs == rowBuckets(t, f), s"$f listed under $bs")
    }
    assert(stateTriples(table) == oracleTriples(collectLog(spark.read.parquet(s"$root/log"))))
  }

  test("rebucket mid-stream: the fenced epoch fails the stream; restart resumes under the new layout") {
    val root = tmpDir("stream-rebucket")
    val cfg = ChangeLogGen.GenConfig(numEvents = 3000, numConvs = 40, maxTurns = 8, logPartitions = 2)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 3)
    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt",
      maxFilesPerTrigger = Some(1))
    // fire once: between some epoch's staging and its commit, an operator
    // rebucket lands — the writer fence must fail that epoch (not land
    // rows in wrong buckets), Spark fails the streaming query, and a
    // restart re-applies the epoch under the new layout from checkpoint
    graft.table.IceLite.testOnStaged.set(() => {
      graft.table.IceLite.load(s"$root/table").rebucket(spark, 16)
      ()
    })
    val e = intercept[Exception](CdcStream.runAvailable(spark, sc))
    def root0(t: Throwable): Throwable = if (t.getCause == null) t else root0(t.getCause)
    assert(root0(e).getMessage.contains("re-bucketed"), root0(e).getMessage)

    val table = CdcStream.runAvailable(spark, sc) // resume
    assert(table.numBuckets == 16)
    assert(stateTriples(table) == oracleTriples(collectLog(spark.read.parquet(s"$root/log"))))
  }

  test("resume from checkpoint: new log files processed, old ones not re-read") {
    val root = tmpDir("stream-resume")
    val cfg = ChangeLogGen.GenConfig(numEvents = 2000, numConvs = 30, maxTurns = 8, logPartitions = 2)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 2)
    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt")
    val t1 = CdcStream.runAvailable(spark, sc)
    val v1 = t1.currentVersion

    // append a late chunk with fresh, higher offsets
    val extra = Seq(
      ins(5000000L, "c_late", 0, "late-insert"),
      del(5000001L, "c00000001", None)) // wipe an existing conversation
    eventsDF(spark, extra)
      .withColumn("schema_v", lit(2)).drop("schemaV")
      .write.mode("append").parquet(s"$root/log/chunk=9")

    val t2 = CdcStream.runAvailable(spark, sc)
    assert(t2.currentVersion > v1)

    val evs = collectLog(spark.read.parquet(s"$root/log"))
    assert(stateTriples(t2) == oracleTriples(evs))
    assert(stateTriples(t2).exists(_._1 == "c_late"))
    assert(!stateTriples(t2).exists(_._1 == "c00000001"))
  }

  test("schema drift mid-stream: column first seen in later-admitted files lands without restart") {
    val root = tmpDir("stream-drift")
    val cfg = ChangeLogGen.GenConfig(numEvents = 1200, numConvs = 20, maxTurns = 6, logPartitions = 2)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 2)

    // A later chunk whose after-struct carries a brand-new nullable column
    // `sentiment` — the pinned source schema (fixed at stream start) has
    // never heard of it; only per-batch re-resolution can see it.
    val driftEvents = Seq(ins(5000000L, "c_drift", 0, "drift-payload"))
    eventsDF(spark, driftEvents)
      .withColumn("schema_v", lit(3)).drop("schemaV")
      .withColumn("after", when(col("after").isNotNull,
        struct(col("after.*"), lit("positive").as("sentiment"))))
      .write.mode("append").parquet(s"$root/log/chunk=9")
    // (mtime of the new files is 'now', far above writeLog's staggered
    // base → the file source admits them in a LATER micro-batch)

    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt",
      maxFilesPerTrigger = Some(1), eventLogTableDir = Some(s"$root/logtbl"))
    val table = CdcStream.runAvailable(spark, sc)
    assert(table.current.properties("epoch:cdc").toLong >= 1, "expected multiple epochs")

    // drift column is now part of the table schema, with the value applied
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(table.current.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.contains("sentiment"))
    val driftRows = table.read(spark)
      .filter(col("conv_id") === "c_drift")
      .select("turn_idx", "sentiment").collect()
    assert(driftRows.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((0, "positive")))

    // the event-log table evolved too
    val logSchema = org.apache.spark.sql.types.DataType
      .fromJson(IceLite.load(s"$root/logtbl").current.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(logSchema("after").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("sentiment"))

    // and the overall state still equals the oracle fold of the full log
    val evs = collectLog(spark.read.schema(graft.model.Schemas.envelope()).parquet(s"$root/log"))
    assert(stateTriples(table) == oracleTriples(evs))
  }

  test("topic-to-table routing: ${topic} template, one table per topic, exactly-once per table") {
    val root = tmpDir("stream-route")
    // cA's first turn carries a non-null `tool` -> only topic alpha's
    // table should get the column (per-topic schemas, not the batch's
    // union envelope)
    val evs = Seq(
      ins(0L, "cA", 0, "a0").copy(after = Some(turn("cA", 0, "a0", 0L).copy(tool = "grep"))),
      ins(1L, "cA", 1, "a1"),
      ins(2L, "cB", 0, "b0"), del(3L, "cA", Some(1)))
    eventsDF(spark, evs)
      .withColumn("schema_v", lit(2)).drop("schemaV")
      .withColumn("topic", when(col("conv_id") === "cA", lit("alpha")).otherwise(lit("beta")))
      .write.parquet(s"$root/log/chunk=0")

    val sc = CdcStream.StreamConfig(
      s"$root/log", tableDir = s"$root/unused", checkpointDir = s"$root/ckpt",
      routing = Some(CdcStream.Routing(s"$root/tables/" + "${topic}")))
    val q = CdcStream.start(spark, sc)
    q.awaitTermination()

    def triples(t: graft.table.IceLiteTable) = t.read(spark)
      .select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(x => (x._1, x._2)).toSeq
    val ta = IceLite.load(s"$root/tables/alpha")
    val tb = IceLite.load(s"$root/tables/beta")
    assert(triples(ta) == Seq(("cA", 0, "a0")))
    assert(triples(tb) == Seq(("cB", 0, "b0")))
    assert(ta.schema.fieldNames.contains("tool"), "alpha saw a non-null tool value")
    assert(!tb.schema.fieldNames.contains("tool"),
      "beta never carried tool — routed table must not inherit the union envelope")
    assert(!java.nio.file.Files.exists(Paths.get(s"$root/unused")),
      "routing mode must not create the unrouted table")

    // crash-replay: drop the streaming commit marker so Spark re-RUNS the
    // epoch with the same batch id — every routed table must skip it
    // (per-table epoch markers), state and versions unchanged
    val (vA, vB) = (ta.currentVersion, tb.currentVersion)
    val lastEpoch = ta.current.properties("epoch:cdc").toLong
    Files.delete(Paths.get(s"$root/ckpt/commits/$lastEpoch"))
    Files.deleteIfExists(Paths.get(s"$root/ckpt/commits/.$lastEpoch.crc"))
    val q2 = CdcStream.start(spark, sc)
    q2.awaitTermination()
    assert(IceLite.load(s"$root/tables/alpha").currentVersion == vA)
    assert(IceLite.load(s"$root/tables/beta").currentVersion == vB)
    assert(triples(IceLite.load(s"$root/tables/alpha")) == Seq(("cA", 0, "a0")))
  }

  test("tableNameCase: case-variant topics fold into ONE table with every slice applied") {
    val root = tmpDir("stream-casefold")
    val evs = Seq(ins(0L, "cA", 0, "a0"), ins(1L, "cB", 0, "b0"))
    eventsDF(spark, evs)
      .withColumn("schema_v", lit(2)).drop("schemaV")
      .withColumn("topic", when(col("conv_id") === "cA", lit("Alpha")).otherwise(lit("alpha")))
      .write.parquet(s"$root/log/chunk=0")
    val sc = CdcStream.StreamConfig(
      s"$root/log", tableDir = s"$root/unused", checkpointDir = s"$root/ckpt",
      routing = Some(CdcStream.Routing(s"$root/tables/" + "${topic}", tableNameCase = "upper")))
    CdcStream.start(spark, sc).awaitTermination()
    val t = IceLite.load(s"$root/tables/ALPHA")
    val rows = t.read(spark).select("conv_id").collect().map(_.getString(0)).sorted.toSeq
    assert(rows == Seq("cA", "cB"), "both case-variant topics' slices must land (no silent epoch skip)")
    // exactly one table dir (robust on case-insensitive filesystems too)
    val dirs = java.nio.file.Files.list(Paths.get(s"$root/tables")).iterator()
    var n = 0
    while (dirs.hasNext) { dirs.next(); n += 1 }
    assert(n == 1, s"expected exactly one folded table dir, found $n")
  }

  test("routing tableNameCase folds the ${topic} substitution (reference `uppercase` flag)") {
    val r = CdcStream.Routing("/x/${topic}", tableNameCase = "upper")
    assert(r.tableDirFor("Alpha") == "/x/ALPHA")
    assert(CdcStream.Routing("/x/${topic}", tableNameCase = "lower").tableDirFor("Alpha") == "/x/alpha")
    assert(CdcStream.Routing("/x/${topic}").tableDirFor("Alpha") == "/x/Alpha")
    intercept[IllegalArgumentException](CdcStream.Routing("/x/${topic}", tableNameCase = "title"))
  }

  test("routed projection keeps the extraction source column even when all-null in a first-sight slice") {
    val root = tmpDir("stream-route-extract")
    // topic beta's ONLY event on its first-sight batch carries a null
    // payload (`text`): the live-column projection would drop `text`, and
    // with extraction configured every retry of the epoch would then fail
    // on after.`text` (ADVICE regression)
    val evs = Seq(
      ins(0L, "cA", 0, """{"lang":"en"}"""),
      ins(1L, "cB", 0, null))
    eventsDF(spark, evs)
      .withColumn("schema_v", lit(2)).drop("schemaV")
      .withColumn("topic", when(col("conv_id") === "cA", lit("alpha")).otherwise(lit("beta")))
      .write.parquet(s"$root/log/chunk=0")
    val sc = CdcStream.StreamConfig(
      s"$root/log", tableDir = s"$root/unused", checkpointDir = s"$root/ckpt",
      spec = graft.model.MergeSpec(
        extractFields = Seq(graft.model.ExtractField("lang", "$.lang")), extractSource = "text"),
      routing = Some(CdcStream.Routing(s"$root/tables/" + "${topic}")))
    CdcStream.start(spark, sc).awaitTermination()
    val ta = IceLite.load(s"$root/tables/alpha")
    val tb = IceLite.load(s"$root/tables/beta")
    assert(ta.read(spark).select("lang").collect().map(_.getString(0)).toSeq == Seq("en"))
    assert(tb.schema.fieldNames.contains("text"),
      "spec-referenced payload column must survive the per-topic projection")
    assert(tb.read(spark).select("conv_id").collect().map(_.getString(0)).toSeq == Seq("cB"))
  }

  test("routing composes with payloadTargetName: routed tables carry the target column only") {
    val root = tmpDir("stream-route-rename")
    // beta's only first-sight event has a null payload — the rename +
    // keep-set must still produce a target-named column, not wedge the
    // epoch or leave a stray event-side column
    val evs = Seq(ins(0L, "cA", 0, "hello"), ins(1L, "cB", 0, null))
    eventsDF(spark, evs)
      .withColumn("schema_v", lit(2)).drop("schemaV")
      .withColumn("topic", when(col("conv_id") === "cA", lit("alpha")).otherwise(lit("beta")))
      .write.parquet(s"$root/log/chunk=0")
    val sc = CdcStream.StreamConfig(
      s"$root/log", tableDir = s"$root/unused", checkpointDir = s"$root/ckpt",
      spec = graft.model.MergeSpec(payloadTargetName = "event"),
      routing = Some(CdcStream.Routing(s"$root/tables/" + "${topic}")))
    CdcStream.start(spark, sc).awaitTermination()
    for (topic <- Seq("alpha", "beta")) {
      val t = IceLite.load(s"$root/tables/$topic")
      assert(t.schema.fieldNames.contains("event"), s"$topic missing target column")
      assert(!t.schema.fieldNames.contains("text"),
        s"$topic kept the event-side name alongside the target — table shape diverged")
    }
    val a = IceLite.load(s"$root/tables/alpha").read(spark).select("event").collect()
    assert(a.map(_.getString(0)).toSeq == Seq("hello"))
  }

  test("routing: null-topic events fail the epoch before any table commits") {
    val root = tmpDir("stream-route-nulltopic")
    val evs = Seq(ins(0L, "cA", 0, "a0"), ins(1L, "cB", 0, "b0"), ins(2L, "cC", 0, "c0"))
    eventsDF(spark, evs)
      .withColumn("schema_v", lit(2)).drop("schemaV")
      .withColumn("topic", when(col("conv_id") === "cA", lit("alpha")))
      .write.parquet(s"$root/log/chunk=0")
    val sc = CdcStream.StreamConfig(
      s"$root/log", tableDir = s"$root/unused", checkpointDir = s"$root/ckpt",
      eventLogTableDir = Some(s"$root/logtbl"),
      routing = Some(CdcStream.Routing(s"$root/tables/" + "${topic}")))
    val e = intercept[Exception](CdcStream.start(spark, sc).awaitTermination())
    def root0(t: Throwable): Throwable = if (t.getCause == null) t else root0(t.getCause)
    val msg = root0(e).getMessage
    assert(msg.contains("2 event(s)") && msg.contains("'topic'"), msg)
    // neither the routed table nor the event log holds the failed epoch
    assert(!Files.exists(Paths.get(s"$root/tables/alpha")), "a routed table committed the failed epoch")
    assert(!IceLite.load(s"$root/logtbl").current.properties.contains("epoch:cdc"),
      "the event log recorded the failed epoch")
  }

  test("automatic maintenance: snapshot chain stays bounded across a long streamed replay") {
    val root = tmpDir("stream-maint")
    val cfg = ChangeLogGen.GenConfig(numEvents = 1200, numConvs = 15, maxTurns = 5, logPartitions = 2)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 6)
    val sc = CdcStream.StreamConfig(
      s"$root/log", s"$root/table", s"$root/ckpt",
      maxFilesPerTrigger = Some(1), maintenanceEvery = 2, keepSnapshots = 2)
    val t = CdcStream.runAvailable(spark, sc)
    val snapFiles = java.nio.file.Files.list(Paths.get(s"$root/table/snap")).iterator()
    var n = 0
    while (snapFiles.hasNext) { snapFiles.next(); n += 1 }
    // without maintenance: >= one v-file per epoch x commits-per-epoch (12+).
    // with expiry every 2 epochs keeping 2: bounded by keep + commits since
    // the last expiry (+ checkpoints), not by the number of epochs
    assert(n <= 10, s"snapshot chain not bounded by auto-maintenance: $n metadata files")
    assert(stateTriples(t).nonEmpty)
    assert(t.current.properties.keys.exists(_.startsWith("epoch:")))

    // crash-orphan sweep rides the same cadence: an aged never-committed
    // file is collected (the grace window spares anything recent — an
    // in-flight writer's staged files are protected only by age)
    val orphanDir = java.nio.file.Files.createDirectories(
      Paths.get(s"$root/table/data/crashed/bucket=0"))
    val orphan = orphanDir.resolve("part-dead.parquet")
    java.nio.file.Files.write(orphan, "junk".getBytes)
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 172800000L))
    val before = stateTriples(t)
    // fresh checkpoint, same streamId: every epoch is a high-water skip,
    // but the maintenance cadence still fires
    CdcStream.runAvailable(spark, sc.copy(checkpointDir = s"$root/ckpt2"))
    assert(!java.nio.file.Files.exists(orphan),
      "maintenance cadence collects aged crash orphans")
    assert(stateTriples(IceLite.load(s"$root/table")) == before)
  }

  test("downstream mirror + incremental view + SCD2 history track the streamed table via the maintenance cadence") {
    val root = tmpDir("stream-downstream")
    val cfg = ChangeLogGen.GenConfig(numEvents = 1500, numConvs = 20, maxTurns = 6, logPartitions = 2)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 4)
    val vspec = graft.operators.IncrementalView.ViewSpec(
      dims = Seq("role" -> col("role")),
      sums = Seq("chars" -> length(col("text")).cast("long")))
    val sc = CdcStream.StreamConfig(
      s"$root/log", s"$root/table", s"$root/ckpt",
      maxFilesPerTrigger = Some(1), maintenanceEvery = 1,
      downstreamMirrors = Seq(s"$root/mirror"),
      downstreamViews = Seq(s"$root/view" -> vspec),
      downstreamHistories = Seq(s"$root/history"))
    val t = CdcStream.runAvailable(spark, sc)
    // cadence = every epoch, so after awaitMaintenance (inside runAvailable)
    // all consumers are synced to the final source version
    val mirror = IceLite.load(s"$root/mirror")
    assert(stateTriples(mirror) == stateTriples(t) && stateTriples(t).nonEmpty)
    assert(graft.operators.Mirror.cursor(t, mirror).contains(t.currentVersion))
    val view = IceLite.load(s"$root/view")
    val got = graft.operators.IncrementalView.read(spark, view, vspec)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val want = t.read(spark).groupBy("role")
      .agg(count(lit(1)).as("cnt"), sum(length(col("text")).cast("long")).as("chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == want && got.nonEmpty)
    val history = IceLite.load(s"$root/history")
    assert(graft.operators.Scd2History.cursor(t, history).contains(t.currentVersion))
    val curState = graft.operators.Scd2History.currentState(spark, history)
      .select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted
    assert(curState == stateTriples(t))
    // versioned rows exist beyond the current ones (the replay mutates keys)
    assert(history.read(spark).filter(!col("is_current")).count() > 0)
  }

  test("crash after table commit but before checkpoint commit: epoch re-run is skipped") {
    val root = tmpDir("stream-crash")
    val cfg = ChangeLogGen.GenConfig(numEvents = 1500, numConvs = 20, maxTurns = 6, logPartitions = 2)
    ChangeLogGen.writeLog(spark, cfg, s"$root/log", chunks = 2)
    val sc = CdcStream.StreamConfig(s"$root/log", s"$root/table", s"$root/ckpt")
    val t1 = CdcStream.runAvailable(spark, sc)
    val lastEpoch = t1.current.properties("epoch:cdc").toLong
    val vDone = t1.currentVersion
    val stateBefore = stateTriples(t1)

    // fault injection: drop the streaming commit marker for the last epoch
    // — Spark will believe the batch never finished and re-run it with the
    // same batch id and file set on restart.
    val marker = Paths.get(s"$root/ckpt/commits/$lastEpoch")
    assert(Files.exists(marker), s"no commit marker at $marker")
    Files.delete(marker)
    Files.deleteIfExists(Paths.get(s"$root/ckpt/commits/.$lastEpoch.crc"))

    val t2 = CdcStream.runAvailable(spark, sc)
    assert(t2.current.properties("epoch:cdc").toLong == lastEpoch)
    assert(t2.currentVersion == vDone, "re-run epoch must be a no-op commit-wise")
    assert(stateTriples(t2) == stateBefore)
  }
}
