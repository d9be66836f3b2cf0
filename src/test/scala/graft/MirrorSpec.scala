package graft

import graft.model.MergeSpec
import graft.operators.{CdcApply, Mirror}
import graft.table.IceLite

/** Downstream mirroring over the change feed (`Mirror.sync`): bootstrap,
  * incremental catch-up, same-commit wipe+put ordering, idempotence /
  * cursor advance, and mirror chaining (mirror of a mirror).
  */
class MirrorSpec extends SparkSuite {
  import TestHelpers._

  private val mor = MergeSpec(morCompactThreshold = 1000)

  private def state(t: graft.table.IceLiteTable): Seq[(String, Int, String)] =
    t.read(spark).select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted

  test("bootstrap then incremental syncs track a randomly mutated source exactly") {
    val src = IceLite.create(tmpDir("mir-src") + "/t", turnSchema, 4)
    val dst = IceLite.create(tmpDir("mir-dst") + "/t", turnSchema, 4)
    val rnd = new scala.util.Random(43)
    var off = 0L
    def batch(n: Int): Seq[graft.model.ChangeEvent] = (0 until n).map { _ =>
      off += 1
      val conv = f"c${rnd.nextInt(9)}%02d"
      rnd.nextInt(10) match {
        case r if r < 6 => ins(off, conv, rnd.nextInt(4), s"t-$off")
        case r if r < 8 => upd(off, conv, rnd.nextInt(4), s"u-$off")
        case 8          => del(off, conv, Some(rnd.nextInt(4)))
        case _          => del(off, conv, None)
      }
    }
    // two source batches BEFORE the first sync: bootstrap covers them
    (0 until 2).foreach { i =>
      CdcApply.applyBatch(spark, src, eventsDF(spark, batch(50)), spec = mor, epoch = Some(("s", i.toLong)))
    }
    val r1 = Mirror.sync(spark, src, dst, mor)
    assert(r1.fromVersion.isEmpty && !r1.result.skipped)
    assert(state(dst) == state(src))
    // three more source batches, syncing (and re-syncing) as we go
    (2 until 5).foreach { i =>
      CdcApply.applyBatch(spark, src, eventsDF(spark, batch(50)), spec = mor, epoch = Some(("s", i.toLong)))
      val r = Mirror.sync(spark, src, dst, mor)
      assert(r.fromVersion.contains(r.toVersion - 1) && !r.result.skipped)
      assert(state(dst) == state(src))
    }
    // no new commits: sync is a skip, cursor unchanged
    val noop = Mirror.sync(spark, src, dst, mor)
    assert(noop.result.skipped && Mirror.cursor(src, dst).contains(src.currentVersion))
  }

  test("a wipe and its own commit's surviving rows replay in order") {
    val src = IceLite.create(tmpDir("mir-wipe-src") + "/t", turnSchema, 4)
    val dst = IceLite.create(tmpDir("mir-wipe-dst") + "/t", turnSchema, 4)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      ins(0, "c1", 0, "old"), ins(1, "c1", 1, "old"), ins(2, "c2", 0, "keep"))),
      spec = mor, epoch = Some(("s", 0L)))
    Mirror.sync(spark, src, dst, mor)
    // one source commit: wipe c1, then re-insert c1/0 (survives the wipe)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      del(3, "c1", None), ins(4, "c1", 0, "new"))), spec = mor, epoch = Some(("s", 1L)))
    Mirror.sync(spark, src, dst, mor)
    assert(state(dst) == Seq(("c1", 0, "new"), ("c2", 0, "keep")))
    assert(state(dst) == state(src))
  }

  test("sync catches up across multiple source commits and source compaction at once") {
    val src = IceLite.create(tmpDir("mir-multi-src") + "/t", turnSchema, 4)
    val dst = IceLite.create(tmpDir("mir-multi-dst") + "/t", turnSchema, 4)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(0, "c1", 0, "a"))),
      spec = mor, epoch = Some(("s", 0L)))
    Mirror.sync(spark, src, dst, mor)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(1, "c2", 0, "b"), del(2, "c1", Some(0)))),
      spec = mor, epoch = Some(("s", 1L)))
    assert(src.compactDeltas(spark) > 0)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ups(3, "c2", 0, "b2"))),
      spec = mor, epoch = Some(("s", 2L)))
    val r = Mirror.sync(spark, src, dst, mor) // one sync over apply+compaction+apply
    assert(!r.result.skipped)
    assert(state(dst) == Seq(("c2", 0, "b2")) && state(dst) == state(src))
  }

  test("mirror chains: a mirror's mirror tracks the source") {
    val src = IceLite.create(tmpDir("mir-chain-src") + "/t", turnSchema, 4)
    val mid = IceLite.create(tmpDir("mir-chain-mid") + "/t", turnSchema, 4)
    val dst = IceLite.create(tmpDir("mir-chain-dst") + "/t", turnSchema, 4)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      ins(0, "c1", 0, "a"), ins(1, "c2", 0, "b"))), spec = mor, epoch = Some(("s", 0L)))
    Mirror.sync(spark, src, mid, mor); Mirror.sync(spark, mid, dst, mor)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      ups(2, "c1", 0, "a2"), del(3, "c2", Some(0)))), spec = mor, epoch = Some(("s", 1L)))
    Mirror.sync(spark, src, mid, mor); Mirror.sync(spark, mid, dst, mor)
    assert(state(dst) == Seq(("c1", 0, "a2")) && state(dst) == state(src))
  }

  test("cursor-pinned retention: a lagging mirror survives source expiry and catches up") {
    val src = IceLite.create(tmpDir("mir-pin-src") + "/t", turnSchema, 4)
    val dst = IceLite.create(tmpDir("mir-pin-dst") + "/t", turnSchema, 4)
    (0 until 2).foreach { i =>
      CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(i.toLong, s"c$i", 0, s"t$i"))),
        spec = mor, epoch = Some(("s", i.toLong)))
    }
    Mirror.sync(spark, src, dst, mor) // cursor now at this version, then the mirror "fails"
    val cursor = Mirror.cursor(src, dst).get
    (2 until 6).foreach { i =>
      CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(i.toLong, s"c$i", 0, s"t$i"))),
        spec = mor, epoch = Some(("s", i.toLong)))
    }
    // the streaming maintenance path expires with the consumer pin: the
    // cursor snapshot (the next sync's feed BASELINE) must survive even
    // though base keepSnapshots=1 would have dropped it
    val keep = graft.streaming.CdcStream.pinnedKeep(1, src.currentVersion, Seq(cursor))
    assert(keep.toLong == src.currentVersion - cursor + 1)
    src.expireSnapshots(keep)
    val r = Mirror.sync(spark, src, dst, mor)
    assert(!r.result.skipped && state(dst) == state(src) && state(dst).size == 6)
    // control: with no registered consumers the base window applies unchanged
    assert(graft.streaming.CdcStream.pinnedKeep(3, 100L, Seq.empty) == 3)
  }
}
