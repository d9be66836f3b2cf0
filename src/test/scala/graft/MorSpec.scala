package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.model.{ChangeEvent, MergeSpec}
import graft.operators.CdcApply
import graft.table.IceLite

/** Merge-on-read specifics beyond the config-parameterized equivalence
  * suites: write-amplification shape (no base rewrites per batch),
  * compaction bounds, commit races, and bulk series-tombstone batches
  * staying distributed (no driver-side wipe collection).
  */
class MorSpec extends SparkSuite {
  import TestHelpers._

  private def randomLog(rnd: Random, n: Int, convs: Int, turns: Int) =
    (0 until n).map { i =>
      val off = i.toLong
      val conv = f"c${rnd.nextInt(convs)}%03d"
      val t = rnd.nextInt(turns)
      rnd.nextInt(100) match {
        case r if r < 60 => ins(off, conv, t, s"ins-$off")
        case r if r < 75 => upd(off, conv, t, s"upd-$off")
        case r if r < 90 => ups(off, conv, t, s"ups-$off")
        case r if r < 97 => del(off, conv, Some(t))
        case _           => del(off, conv, None)
      }
    }.toVector

  test("mor batches append O(changes) deltas; base files untouched until compaction") {
    val dir = tmpDir("mor-shape") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val log = randomLog(new Random(7), 300, 6, 5)
    val spec = MergeSpec(morCompactThreshold = 1000)
    log.grouped(100).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), spec = spec, epoch = Some(("m", i.toLong)))
      assert(t.dataFiles().isEmpty, s"batch $i rewrote base files under mor")
    }
    assert(t.deltaFiles().nonEmpty)
    val want = OracleFold.rows(OracleFold.finalState(log))
    assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)) ==
      want.map(x => (x.conv_id, x.turn_idx, x.text)))
    // explicit compaction folds everything into base files; state unchanged
    assert(t.compactDeltas(spark) > 0)
    assert(t.deltaFiles().isEmpty && t.dataFiles().nonEmpty)
    assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)) ==
      want.map(x => (x.conv_id, x.turn_idx, x.text)))
  }

  test("inline compaction keeps per-bucket delta counts bounded by the threshold") {
    val dir = tmpDir("mor-bound") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val log = randomLog(new Random(11), 400, 8, 4)
    // unbounded budget: this test pins the STRICT counts<=threshold
    // contract (budgeted mode relaxes it transiently; see the budget test)
    val spec = MergeSpec(morCompactThreshold = 2, morCompactBudget = -1)
    log.grouped(40).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), spec = spec, epoch = Some(("b", i.toLong)))
      t.current.deltas.foreach { case (bk, fs) =>
        assert(fs.size <= spec.morCompactThreshold, s"bucket $bk has ${fs.size} deltas after batch $i")
      }
    }
    val want = OracleFold.rows(OracleFold.finalState(log))
    assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)) ==
      want.map(x => (x.conv_id, x.turn_idx, x.text)))
  }

  test("threshold 0 compacts every epoch's own deltas; a negative threshold never compacts") {
    val log = randomLog(new Random(13), 300, 8, 4)
    val want = OracleFold.rows(OracleFold.finalState(log)).map(x => (x.conv_id, x.turn_idx, x.text))
    val every = IceLite.create(tmpDir("mor-t0") + "/t", turnSchema, 4)
    val never = IceLite.create(tmpDir("mor-tneg") + "/t", turnSchema, 4)
    log.grouped(60).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatch(spark, every, eventsDF(spark, b),
        spec = MergeSpec(morCompactThreshold = 0), epoch = Some(("z", i.toLong)))
      assert(every.deltaFiles().isEmpty, s"threshold 0 left delta files after batch $i")
      CdcApply.applyBatch(spark, never, eventsDF(spark, b),
        spec = MergeSpec(morCompactThreshold = -1), epoch = Some(("n", i.toLong)))
      assert(never.dataFiles().isEmpty, s"a negative threshold compacted at batch $i")
    }
    assert(every.dataFiles().nonEmpty)
    assert(readTable(spark, every).map(x => (x.conv_id, x.turn_idx, x.text)) == want)
    assert(readTable(spark, never).map(x => (x.conv_id, x.turn_idx, x.text)) == want)
  }

  test("budgeted compaction: at most morCompactBudget buckets per epoch, backlog drains, state correct") {
    val dir = tmpDir("mor-budget") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val log = randomLog(new Random(23), 600, 12, 4)
    // threshold 3, 4 buckets => steady-state compaction demand ~4/3 buckets
    // per epoch; budget 2 is sustainable but can never compact all buckets
    // in one epoch (the synchronized-wave stall this bounds)
    val spec = MergeSpec(morCompactThreshold = 3,
      morCompactBudget = 2, morCompactStagger = 0)
    var sawBacklog = false
    log.grouped(40).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), spec = spec, epoch = Some(("bg", i.toLong)))
      val snap = t.current
      snap.metrics.get("bucketsCompacted").foreach { n =>
        assert(n <= 2, s"epoch $i compacted $n buckets, over the budget of 2")
      }
      val counts = snap.deltas.view.mapValues(_.size)
      if (counts.exists(_._2 > spec.morCompactThreshold)) sawBacklog = true
      counts.foreach { case (bk, n) =>
        assert(n <= spec.morCompactThreshold + 4,
          s"bucket $bk backlog $n diverged (epoch $i) — budget not keeping up")
      }
    }
    assert(sawBacklog, "test never exercised a deferred (over-threshold) bucket — weaken budget or threshold")
    val want = OracleFold.rows(OracleFold.finalState(log))
    assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)) ==
      want.map(x => (x.conv_id, x.turn_idx, x.text)))
  }

  test("mor read prunes: deltas on few keys -> untouched base rows bypass the fold shuffle") {
    val dir = tmpDir("mor-prunedread") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    // 2000-row base state (compacted), then one delta batch touching ~20 keys + 2 wipes
    val seed = (0 until 2000).map(i => ins(i.toLong, f"c${i / 4}%04d", i % 4, s"v$i"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, seed),
      spec = MergeSpec(morCompactThreshold = 1000), epoch = Some(("p", 0L)))
    assert(t.compactDeltas(spark, 0) > 0)
    val touch = (0 until 20).map(i => ups(10000L + i, f"c${i * 7}%04d", i % 4, s"new$i")) ++
      Seq(del(10100L, "c0003", None), del(10101L, "c0200", None))
    CdcApply.applyBatch(spark, t, eventsDF(spark, touch),
      spec = MergeSpec(morCompactThreshold = 1000), epoch = Some(("p", 1L)))
    assert(t.deltaFiles().nonEmpty)

    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx", "text").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(x => (x._1, x._2)).toSeq
    val pruned = t.read(spark)
    val plan = planOf(pruned)
    // base rows stream past the broadcast fold and wipe set in outer joins
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"), plan.take(3000))

    // shuffle-written records of one run of `df`, with AQE off
    // (deterministic plan)
    def shuffled(df: => org.apache.spark.sql.DataFrame): Long = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val d = df
        d.collect()
        d.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            // metric KEY is camel-case ("shuffleRecordsWritten"); match it
            // case/format-insensitively
            e.metrics.collect {
              case (n, m) if n.toLowerCase.replaceAll("[^a-z]", "").contains("recordswritten") => m.value
            }.sum
        }.sum
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    // deltas this small fold in one task and are broadcast: nothing shuffles
    val small = shuffled(t.read(spark))
    assert(small == 0L, s"small-delta mor read shuffled $small records")
    // just over the gate the fold takes its exchange on conv_id (the
    // planner still broadcasts it): shuffled volume is O(deltas + touched
    // rows), not O(bucket) — far below the 2000-row base
    val gated = withBroadcastThreshold(spark, graft.table.MorRead.deltaBytes(t.deltaFiles()) - 1) {
      val df = t.read(spark)
      assert(planOf(df).contains("BroadcastHashJoin"), planOf(df).take(3000))
      assert(key(df) == key(pruned))
      shuffled(t.read(spark))
    }
    assert(gated > 0 && gated < 500,
      s"pruned mor read shuffled $gated records for ~44 delta rows over a 2000-row base")

    // the fallback when nothing may be broadcast (deltas too big for it):
    // the planner picks another join for the same fold, with the same rows
    withBroadcastThreshold(spark, -1) {
      val full = t.read(spark)
      assert(!planOf(full).contains("Broadcast"))
      assert(key(pruned) == key(full))
    }
    // and both match the sequential oracle
    val want = OracleFold.rows(OracleFold.finalState(seed ++ touch))
      .map(x => (x.conv_id, x.turn_idx, x.text))
    assert(key(pruned) == want)
  }

  test("a full read over more than 32 delta files starts no listing job") {
    val t = IceLite.create(tmpDir("mor-nolisting") + "/t", turnSchema, 8)
    val spec = MergeSpec(morCompactThreshold = 1000)
    val log = randomLog(new Random(43), 600, 64, 4)
    log.grouped(120).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), spec = spec, epoch = Some(("nl", i.toLong)))
    }
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    assert(t.deltaFiles().size > threshold, s"${t.deltaFiles().size} delta files")

    val listings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("Listing leaf files")).foreach(listings.add)
    }
    def listingJobs(f: => Any): Int = {
      listings.clear()
      spark.sparkContext.addSparkListener(listener)
      try { f; Thread.sleep(1000) } // listener bus drain
      finally spark.sparkContext.removeSparkListener(listener)
      listings.size
    }
    // the same files through spark.read do list, in parallel
    assert(listingJobs(spark.read.parquet(t.deltaFiles(): _*).count()) > 0)
    var got = Seq.empty[(String, Int, String)]
    assert(listingJobs {
      got = t.read(spark).select("conv_id", "turn_idx", "text").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted
    } == 0)
    assert(got == OracleFold.rows(OracleFold.finalState(log)).map(x => (x.conv_id, x.turn_idx, x.text)))
  }

  test("schema drift across mor deltas survives read-merge and compaction") {
    val dir = tmpDir("mor-drift") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val spec = MergeSpec(morCompactThreshold = 1000)

    // epoch 0 writes deltas under the original schema
    CdcApply.applyBatch(spark, t,
      eventsDF(spark, Seq(ins(0L, "c1", 0, "old-a"), ins(1L, "c2", 0, "old-b"))),
      spec = spec, epoch = Some(("d", 0L)))
    // epoch 1 drifts: after-struct gains a nullable `sentiment` column
    val drifted = eventsDF(spark, Seq(ins(2L, "c1", 1, "new-a"), ups(3L, "c2", 0, "new-b")))
      .withColumn("after", when(col("after").isNotNull,
        // `when` without otherwise => nullable, as ALTER-ADD requires
        struct(col("after.*"), when(col("conv_id").isNotNull, lit("pos")).as("sentiment"))))
    CdcApply.applyBatch(spark, t, drifted, spec = spec, epoch = Some(("d", 1L)))

    def stateMap() = t.read(spark)
      .select("conv_id", "turn_idx", "text", "sentiment").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getString(2), Option(r.getString(3))))).toMap

    val expected = Map(
      ("c1", 0) -> (("old-a", None)),          // pre-drift delta: null sentiment
      ("c1", 1) -> (("new-a", Some("pos"))),
      ("c2", 0) -> (("new-b", Some("pos"))))   // upsert replaced the old row
    assert(stateMap() == expected, "read-merge across mixed-schema deltas")

    // compaction folds mixed-schema deltas into base files; state unchanged
    assert(t.compactDeltas(spark, 0) > 0)
    assert(t.current.deltas.isEmpty)
    assert(stateMap() == expected, "state changed across drift compaction")
  }

  test("compaction rewrites each bucket in one task, into one sorted zstd base file") {
    val dir = tmpDir("mor-compact-task") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val spec = MergeSpec(morCompactThreshold = 1000)
    val log = randomLog(new Random(41), 400, 24, 5)
    log.grouped(100).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), spec = spec, epoch = Some(("ct", i.toLong)))
      // the second compaction merges base files with newer deltas
      if (i == 1) assert(t.compactDeltas(spark, 0) > 0)
    }
    val targets = t.current.deltas.keySet
    assert(targets.size > 1 && targets.exists(b => t.dataFiles(Some(Set(b))).nonEmpty))

    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val compacted =
      try {
        val n = t.compactDeltas(spark, 0)
        Thread.sleep(1000) // listener bus drain
        n
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(compacted == targets.size)
    assert(jobs.get == compacted && tasks.get == compacted,
      s"${jobs.get} jobs / ${tasks.get} tasks for $compacted compacted buckets")

    assert(t.current.deltas.isEmpty)
    targets.foreach { b =>
      val files = t.dataFiles(Some(Set(b)))
      assert(files.size == 1, s"bucket $b has ${files.size} base files")
      val keys = spark.read.parquet(files.head).select("conv_id", "turn_idx").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(keys == keys.sorted, s"bucket $b base file is not sorted by (conv_id, turn_idx)")
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(files.head), new org.apache.hadoop.conf.Configuration()))
      try footer.getFooter.getBlocks.forEach(_.getColumns.forEach { c =>
        assert(c.getCodec == org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD)
      }) finally footer.close()
    }
    val want = OracleFold.rows(OracleFold.finalState(log))
    assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)) ==
      want.map(x => (x.conv_id, x.turn_idx, x.text)))
  }

  test("bulk series-tombstone batch (150k wipes) stays distributed and applies correctly") {
    val dir = tmpDir("mor-bulkwipe") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    // seed state: 200 conversations
    val seedEvs = (0 until 200).map(i => ins(i.toLong, f"k$i%06d", 0, s"v$i"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, seedEvs), epoch = Some(("w", 0L)))
    // bulk GDPR-style delete: 150k series tombstones built distributed
    // (over the wipe-broadcast threshold; wipes must never be collected
    // to the driver — the pre-r2 collect_list formulation OOMed here)
    assert(150000 > 0 && CdcApply.WipeBroadcastMax < 150000L)
    val wipeBatch = spark.range(150000).select(
      lit(0).as("partition"),
      (col("id") + 1000L).as("offset"),
      lit(new java.sql.Timestamp(1700000000000L)).as("ts"),
      lit("delete").as("op"),
      format_string("k%06d", col("id")).as("conv_id"),
      lit(null).cast("int").as("turn_idx"),
      lit(null).cast(eventsDF(spark, seedEvs).schema("after").dataType).as("after"),
      lit(2).as("schema_v"))
    val res = CdcApply.applyBatch(spark, t, wipeBatch, epoch = Some(("w", 1L)))
    assert(!res.skipped && res.eventsSeen == 150000L)
    // conversations k000000..k000199 all wiped
    assert(t.read(spark).count() == 0)
  }

  test("mor commit race: a concurrent commit in the stage window is retried, both batches land") {
    val dir = tmpDir("mor-race") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val b1 = (0 until 50).map(i => ins(i.toLong, f"a$i%03d", 0, s"a$i"))
    val b2 = (0 until 50).map(i => ins((100 + i).toLong, f"b$i%03d", 0, s"b$i"))
    val before = CdcApply.morRaceRetries.sum()
    // deterministic interleave: after batch-1 stages its deltas but
    // BEFORE its commit, a second writer commits batch-2 — batch-1's CAS
    // sees the moved version and must re-stage + re-commit on its own
    IceLite.testOnStaged.set(() => {
      CdcApply.applyBatch(spark, t, eventsDF(spark, b2), epoch = Some(("s2", 0L)))
      ()
    })
    val r1 = CdcApply.applyBatch(spark, t, eventsDF(spark, b1), epoch = Some(("s1", 0L)))
    assert(!r1.skipped && r1.eventsSeen == 50L)
    assert(CdcApply.morRaceRetries.sum() == before + 1, "exactly one race retry expected")
    val want = OracleFold.rows(OracleFold.finalState(b1 ++ b2))
    assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)) ==
      want.map(x => (x.conv_id, x.turn_idx, x.text)))
    // no stale stage dirs: every delta file on disk is referenced
    val referenced = t.current.deltas.values.flatten.toSet
    assert(referenced.nonEmpty)
  }

  test("race retry merges the racer's schema evolution; neither writer's columns are lost") {
    val dir = tmpDir("mor-race-evolve") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val b1 = (0 until 10).map(i => ins(i.toLong, f"a$i%03d", 0, s"a$i"))
    val b2 = (0 until 10).map(i => ins((100 + i).toLong, f"b$i%03d", 0, s"b$i"))
    // the racing writer's events carry a DRIFT column `extra`
    val evs2 = eventsDF(spark, b2).withColumn("after",
      when(col("after").isNotNull, struct(col("after.*"),
        when(col("conv_id").isNotNull, lit("x")).as("extra")))) // when(): nullable, ALTER-ADD-able
    IceLite.testOnStaged.set(() => {
      CdcApply.applyBatch(spark, t, evs2, epoch = Some(("e2", 0L)))
      ()
    })
    // batch-1 (no drift column) staged against the pre-evolution parent;
    // its retry must re-merge the schema over the racer's evolved one
    val r1 = CdcApply.applyBatch(spark, t, eventsDF(spark, b1), epoch = Some(("e1", 0L)))
    assert(!r1.skipped)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(t.current.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.contains("extra"), "racer's drift column must survive the retry commit")
    val rows = t.read(spark).select("conv_id", "extra").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(rows.count(_._2.contains("x")) == 10, "racer's rows keep their drift value")
    assert(rows.count(r => r._1.startsWith("a") && r._2.isEmpty) == 10,
      "retried writer's rows widen the missing column to null")
  }

  test("two uncoordinated concurrent writers: both commit without manual re-apply") {
    val dir = tmpDir("mor-race2") + "/t"
    val t = IceLite.create(dir, turnSchema, 8)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val rounds = 4
    (0 until rounds).foreach { r =>
      val bA = (0 until 40).map(i => ins((r * 1000 + i).toLong, f"x$i%03d", r, s"A$r-$i"))
      val bB = (0 until 40).map(i => ins((r * 1000 + 500 + i).toLong, f"y$i%03d", r, s"B$r-$i"))
      val fA = Future(CdcApply.applyBatch(spark, t, eventsDF(spark, bA), epoch = Some(("wa", r.toLong))))
      val fB = Future(CdcApply.applyBatch(spark, t, eventsDF(spark, bB), epoch = Some(("wb", r.toLong))))
      val (ra, rb) = (Await.result(fA, Duration.Inf), Await.result(fB, Duration.Inf))
      assert(!ra.skipped && !rb.skipped)
    }
    // every row from both writers is present exactly once
    assert(t.read(spark).count() == (rounds * 80).toLong)
  }

  test("randomized concurrent writers: mixed ops, mixed strategies, final state equals oracle") {
    // Generalizes the insert-only concurrency test: seeded random batches
    // of insert/upsert/update/point-delete/series-delete from two TRULY
    // CONCURRENT writers over disjoint conv universes (disjointness makes
    // the merged oracle commit-order independent — per-key ordering is
    // each writer's own offset order, which fold and oracle both honor).
    // One seed mixes fold strategies: a bucket-aligned writer's delta
    // appends interleave with a key-aligned writer's on the same table.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    import scala.util.Random
    for (seed <- Seq(11, 24)) {
      val rnd = new Random(seed)
      val dir = tmpDir(s"mor-race-rand-$seed") + "/t"
      val t = IceLite.create(dir, turnSchema, 8)
      def randomBatch(prefix: String, base: Long, n: Int): Seq[ChangeEvent] =
        (0 until n).map { i =>
          val off = base + i
          val conv = f"$prefix${rnd.nextInt(12)}%02d"
          val turn = rnd.nextInt(3)
          rnd.nextInt(100) match {
            case r if r < 45 => ins(off, conv, turn, s"$prefix-ins-$off")
            case r if r < 65 => ups(off, conv, turn, s"$prefix-ups-$off")
            case r if r < 80 => upd(off, conv, turn, s"$prefix-upd-$off")
            case r if r < 93 => del(off, conv, Some(turn))
            case _           => del(off, conv, None)
          }
        }
      val specA = MergeSpec()
      val specB = MergeSpec(foldAlignment = if (seed % 2 == 0) "bucket" else "key")
      var all = Vector.empty[ChangeEvent]
      (0 until 3).foreach { r =>
        val bA = randomBatch("ra", r * 1000L, 30 + rnd.nextInt(20))
        val bB = randomBatch("rb", r * 1000L + 500, 30 + rnd.nextInt(20))
        all = all ++ bA ++ bB
        val fA = Future(CdcApply.applyBatch(spark, t, eventsDF(spark, bA),
          spec = specA, epoch = Some((s"ra$seed", r.toLong))))
        val fB = Future(CdcApply.applyBatch(spark, t, eventsDF(spark, bB),
          spec = specB, epoch = Some((s"rb$seed", r.toLong))))
        val (ra, rb) = (Await.result(fA, Duration.Inf), Await.result(fB, Duration.Inf))
        assert(!ra.skipped && !rb.skipped)
      }
      val want = OracleFold.rows(OracleFold.finalState(all))
      assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)) ==
        want.map(x => (x.conv_id, x.turn_idx, x.text)),
        s"seed $seed: concurrent mixed-op replay must equal the sequential oracle")
    }
  }
}
