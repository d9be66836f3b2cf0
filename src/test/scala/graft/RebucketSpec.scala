package graft

import org.apache.spark.sql.functions._

import graft.operators.{CdcApply, EventLogApply}
import graft.table.IceLite

/** Bucket-count evolution (IceLiteTable.rebucket): state preservation,
  * per-snapshot layout (time travel keeps the old bucket count), pruning
  * under the new layout, change-feed transparency, and the writer fences
  * that abort a CDC apply staged under a layout a concurrent rebucket
  * replaced (landing those rows would silently break pruning).
  */
class RebucketSpec extends SparkSuite {
  import TestHelpers._

  private def state(t: graft.table.IceLiteTable) =
    readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)).sorted

  test("rebucket preserves state, changes layout per-snapshot, prunes under the new count") {
    val dir = tmpDir("rebucket") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val b = (0 until 60).map(i => ins(i.toLong, f"c$i%03d", 0, s"t$i"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, b), epoch = Some(("q", 0L)))
    val before = state(t)
    val oldV = t.currentVersion

    val snap = t.rebucket(spark, 16)
    assert(snap.numBuckets == 16 && t.numBuckets == 16)
    assert(snap.deltas.isEmpty, "rebucket folds outstanding deltas into base files")
    assert(state(t) == before)
    // epoch bookkeeping carried over: redelivery is still a no-op
    assert(CdcApply.applyBatch(spark, t, eventsDF(spark, b), epoch = Some(("q", 0L))).skipped)

    // time travel keeps the OLD layout (numBuckets is per snapshot)
    assert(t.snapshot(oldV).numBuckets == 4)
    assert(t.readAt(spark, oldV).count() == before.size)

    // point read prunes to ONE of the 16 new buckets
    val probe = "c007"
    val bkt = IceLite.bucketOf(lit(probe), 16)
    val bucketId = spark.range(1).select(bkt).collect()(0).getInt(0)
    val pruned = t.read(spark, Some(Set(bucketId))).filter(col("conv_id") === probe)
    assert(pruned.count() == 1)
    assert(t.dataFiles(Some(Set(bucketId))).size < t.dataFiles(None).size)

    // new writes land under the new layout and read back correctly
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ups(1000L, "c007", 0, "updated"))),
      epoch = Some(("q", 1L)))
    assert(readTable(spark, t).find(_.conv_id == "c007").get.text == "updated")
    // no-op when the count is unchanged
    assert(t.rebucket(spark, 16).version == t.currentVersion)
  }

  test("change feed: rebucket is state-preserving (transparent); rollback throws loudly") {
    val dir = tmpDir("rebucket-feed") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "a"))), epoch = Some(("q", 0L)))
    val from = t.currentVersion
    t.rebucket(spark, 8)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ups(1L, "c1", 0, "b"))), epoch = Some(("q", 1L)))
    // the feed over (from, now] skips the rebucket and carries exactly the upsert
    val feed = t.readChanges(spark, from).collect()
    assert(feed.length == 1 && feed(0).getAs[String]("action") == graft.model.NetAction.Put)

    val goodV = t.currentVersion
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ups(2L, "c1", 0, "bad"))), epoch = Some(("q", 2L)))
    t.rollback(goodV)
    val e = intercept[UnsupportedOperationException](t.readChanges(spark, goodV).collect())
    assert(e.getMessage.contains("rollback"))
  }

  test("MOR apply staged under the old layout aborts when a rebucket lands mid-commit") {
    val dir = tmpDir("rebucket-mor-race") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "seed"))), epoch = Some(("q", 0L)))
    IceLite.testOnStaged.set(() => { t.rebucket(spark, 8); () })
    val b = (0 until 20).map(i => ins((10 + i).toLong, f"n$i%02d", 0, s"n$i"))
    val e = intercept[IllegalStateException](
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), epoch = Some(("q", 1L))))
    assert(e.getMessage.contains("re-bucketed"), e.getMessage)
    // re-applying the same epoch under the new layout succeeds cleanly
    val r = CdcApply.applyBatch(spark, t, eventsDF(spark, b), epoch = Some(("q", 1L)))
    assert(!r.skipped && state(t).size == 21)
    // every delta row sits in the bucket dir its conv_id hashes to under
    // the NEW layout — the property the fence exists to protect
    val files = t.current.deltas.toSeq.flatMap { case (bkt, fs) => fs.map(f => (bkt, s"$dir/$f")) }
    files.groupBy(_._1).foreach { case (bkt, fs) =>
      val rows = spark.read.parquet(fs.map(_._2): _*).select("conv_id").distinct()
      val wrong = rows.filter(IceLite.bucketOf(col("conv_id"), 8) =!= lit(bkt)).count()
      assert(wrong == 0, s"bucket $bkt holds rows hashed elsewhere under the new layout")
    }
  }

  test("MOR fence holds when every touched bucket is empty on both sides of the rebucket") {
    // The adversarial case for any per-bucket staleness test: a batch of
    // BRAND-NEW conversations whose buckets hold no files under the old
    // layout NOR under the rebucketed parent's, so comparing the touched
    // buckets' file lists sees nothing change. Only the layout fence can
    // catch the race — without it the old-layout staged deltas would
    // publish into a new-layout snapshot and bucket-pruned reads would
    // miss the rows.
    val dir = tmpDir("rebucket-mor-empty") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "seed"))),
      epoch = Some(("q", 0L)))
    // deterministically pick new conv_ids whose bucket avoids the seed's
    // bucket under BOTH layouts (so no touched bucket has files anywhere)
    val cand = (0 until 300).map(i => f"z$i%03d")
    val rows = spark.createDataFrame(cand.map(Tuple1(_))).toDF("c")
      .select(col("c"), IceLite.bucketOf(col("c"), 4).as("b4"),
        IceLite.bucketOf(col("c"), 8).as("b8")).collect()
    val Array(seedB4, seedB8) = spark.range(1)
      .select(IceLite.bucketOf(lit("c1"), 4), IceLite.bucketOf(lit("c1"), 8))
      .collect()(0).toSeq.map(_.asInstanceOf[Int]).toArray
    val fresh = rows.filter(r => r.getInt(1) != seedB4 && r.getInt(2) != seedB8)
      .take(5).map(_.getString(0))
    assert(fresh.length == 5, "candidate pool must yield 5 bucket-avoiding names")
    IceLite.testOnStaged.set(() => { t.rebucket(spark, 8); () })
    val b = fresh.zipWithIndex.map { case (c, i) => ins((10 + i).toLong, c, 0, s"n-$c") }
    val e = intercept[IllegalStateException](
      CdcApply.applyBatch(spark, t, eventsDF(spark, b.toSeq), epoch = Some(("q", 1L))))
    assert(e.getMessage.contains("re-bucketed"), e.getMessage)
    assert(state(t).size == 1, "the fenced batch published nothing")
    // re-apply lands under the new layout; every base and delta file is
    // bucket-pure
    val r = CdcApply.applyBatch(spark, t, eventsDF(spark, b.toSeq), epoch = Some(("q", 1L)))
    assert(!r.skipped && state(t).size == 6)
    assert(t.current.deltas.values.flatten.nonEmpty)
    (t.current.files.toSeq ++ t.current.deltas.toSeq).foreach { case (bkt, fs) =>
      if (fs.nonEmpty) {
        val rows2 = spark.read.parquet(fs.map(f => s"$dir/$f"): _*).select("conv_id").distinct()
        val wrong = rows2.filter(IceLite.bucketOf(col("conv_id"), 8) =!= lit(bkt)).count()
        assert(wrong == 0, s"bucket $bkt holds rows hashed elsewhere under the new layout")
      }
    }
  }

  test("event-log append fenced the same way") {
    val dir = tmpDir("rebucket-log-race") + "/t"
    val t = IceLite.create(dir, graft.operators.EventLogApply.logSchema(turnSchema), 4)
    EventLogApply.appendBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "seed"))), epoch = Some(("q", 0L)))
    IceLite.testOnStaged.set(() => { t.rebucket(spark, 8); () })
    val e = intercept[IllegalStateException](
      EventLogApply.appendBatch(spark, t, eventsDF(spark, Seq(ins(1L, "c2", 0, "x"))), epoch = Some(("q", 1L))))
    assert(e.getMessage.contains("re-bucketed"), e.getMessage)
    val r = EventLogApply.appendBatch(spark, t, eventsDF(spark, Seq(ins(1L, "c2", 0, "x"))), epoch = Some(("q", 1L)))
    assert(!r.skipped && t.read(spark).count() == 2)
  }

  test("randomized: replay with rebuckets interleaved between batches still equals the oracle") {
    import scala.util.Random
    def randomLog(rnd: Random, n: Int, convs: Int, turns: Int) =
      (0 until n).map { i =>
        val off = i.toLong
        val conv = f"c${rnd.nextInt(convs)}%03d"
        val t = rnd.nextInt(turns)
        rnd.nextInt(100) match {
          case r if r < 55 => ins(off, conv, t, s"ins-$off")
          case r if r < 70 => upd(off, conv, t, s"upd-$off")
          case r if r < 85 => ups(off, conv, t, s"ups-$off")
          case r if r < 96 => del(off, conv, Some(t))
          case _           => del(off, conv, None)
        }
      }.toVector
    Seq(401L, 402L, 403L).foreach { seed =>
      val rnd = new Random(seed)
      val log = randomLog(rnd, 250, 5, 4)
      val dir = tmpDir(s"rebucket-rand-$seed") + "/t"
      val t = IceLite.create(dir, turnSchema, 4)
      log.grouped(60).zipWithIndex.foreach { case (b, i) =>
        CdcApply.applyBatch(spark, t, eventsDF(spark, b.toSeq), epoch = Some(("r", i.toLong)))
        // random layout churn between batches: widen, shrink, or leave
        rnd.nextInt(3) match {
          case 0 => t.rebucket(spark, 1 + rnd.nextInt(16))
          case _ => ()
        }
      }
      val want = OracleFold.rows(OracleFold.finalState(log))
        .map(x => (x.conv_id, x.turn_idx, x.text))
      assert(state(t) == want.sorted, s"seed=$seed finalBuckets=${t.numBuckets}")
    }
  }

  test("rebucket aborts cleanly when a concurrent commit lands mid-rewrite") {
    val dir = tmpDir("rebucket-race") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "a"))), epoch = Some(("q", 0L)))
    // deterministic interleave: a concurrent writer commits between the
    // rebucket's staging write and its CAS — losing that writer's rows by
    // committing the stale rewrite is exactly what the guard forbids
    IceLite.testOnStaged.set(() => {
      CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(1L, "c2", 0, "b"))), epoch = Some(("q", 1L)))
      ()
    })
    val e = intercept[IllegalStateException](t.rebucket(spark, 8))
    assert(e.getMessage.contains("raced"), e.getMessage)
    // state unharmed (both writers' rows live), layout unchanged; re-run lands
    assert(t.numBuckets == 4 && state(t).size == 2)
    assert(t.rebucket(spark, 8).numBuckets == 8)
    assert(state(t).size == 2)
  }
}
