package graft

import java.sql.Timestamp

import graft.model.MergeSpec
import graft.operators.{CdcApply, Scd2History}
import graft.table.{IceLite, IceLiteTable}

/** SCD2 versioned history over the change feed (`Scd2History.refresh`),
  * pinned against a snapshot-diff oracle: the history must contain
  * exactly one version per change of each key between consecutive source
  * snapshots (appear / change / disappear), with contiguous ordinals,
  * well-formed intervals, and current rows equal to the source state —
  * whether refreshed per commit or caught up in one refresh.
  */
class Scd2Spec extends SparkSuite {
  import TestHelpers._

  private val mor = MergeSpec(morCompactThreshold = 1000)

  private type Payload = (String, String, String, Timestamp) // role,text,tool,ts
  private type Version = (Payload, Long, Option[Long])       // payload, from, to

  /** Engine history rows per source key, ordered by ordinal; asserts the
    * ordinals are dense 0..n-1 while collecting.
    */
  private def engineHistory(h: IceLiteTable): Map[(String, Int), Seq[Version]] = {
    val rows = h.read(spark)
      .select("conv_id", "turn_idx", "src_conv_id", "src_turn_idx",
        "role", "text", "tool", "ts", "valid_from", "valid_to", "is_current")
      .collect()
    val byKey = rows.groupBy(r => (r.getString(2), r.getInt(3)))
    byKey.map { case (k, vs) =>
      val sorted = vs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == sorted.indices.toSeq,
        s"ordinals of $k not dense: ${sorted.map(_.getInt(1)).toSeq}")
      sorted.foreach { r =>
        assert(r.getBoolean(10) == r.isNullAt(9), s"is_current <-> open mismatch for $k")
      }
      k -> sorted.map { r =>
        ((r.getString(4), r.getString(5), r.getString(6), r.getTimestamp(7)),
          r.getLong(8), if (r.isNullAt(9)) None else Some(r.getLong(9)))
      }.toSeq
    }
  }

  /** Snapshot-diff oracle: walk readAt states from the bootstrap version
    * and record a version per change of each key.
    */
  private def oracleHistory(src: IceLiteTable, bootV: Long, to: Long): Map[(String, Int), Seq[Version]] = {
    def stateAt(v: Long): Map[(String, Int), Payload] =
      src.readAt(spark, v).collect().map { r =>
        (r.getString(0), r.getInt(1)) ->
          ((r.getString(2), r.getString(3), r.getString(4), r.getTimestamp(5)))
      }.toMap
    val states = (bootV to to).map(v => v -> stateAt(v)).toMap
    val keys = states.values.flatMap(_.keys).toSet
    keys.map { k =>
      var open: Option[(Payload, Long)] = states(bootV).get(k).map(p => (p, bootV))
      val out = Seq.newBuilder[Version]
      ((bootV + 1) to to).foreach { v =>
        val cur = states(v).get(k)
        open match {
          case Some((p, f)) if !cur.contains(p) =>
            out += ((p, f, Some(v)))
            open = cur.map(p2 => (p2, v))
          case None => open = cur.map(p2 => (p2, v))
          case _    => ()
        }
      }
      open.foreach { case (p, f) => out += ((p, f, None)) }
      k -> out.result()
    }.filter(_._2.nonEmpty).toMap
  }

  private def assertWellFormed(hist: Map[(String, Int), Seq[Version]]): Unit =
    hist.foreach { case (k, vs) =>
      vs.init.foreach { case (_, f, t) =>
        assert(t.isDefined && f < t.get, s"non-final version of $k must close after it opens")
      }
      vs.zip(vs.tail).foreach { case ((_, _, t1), (_, f2, _)) =>
        assert(t1.get <= f2, s"overlapping intervals for $k")
      }
      assert(vs.last._3.forall(_ > vs.last._2), s"final interval of $k malformed")
    }

  test("per-commit refreshes track a random replay and match the snapshot-diff oracle") {
    val src = IceLite.create(tmpDir("scd2-src") + "/t", turnSchema, 4)
    val h = IceLite.create(tmpDir("scd2-h") + "/t", Scd2History.historySchema(turnSchema), 4)
    val rnd = new scala.util.Random(47)
    var off = 0L
    def batch(n: Int): Seq[graft.model.ChangeEvent] = (0 until n).map { _ =>
      off += 1
      val conv = f"c${rnd.nextInt(7)}%02d"
      rnd.nextInt(10) match {
        case r if r < 5 => ins(off, conv, rnd.nextInt(3), s"t-$off")
        case r if r < 8 => upd(off, conv, rnd.nextInt(3), s"u-$off")
        case 8          => del(off, conv, Some(rnd.nextInt(3)))
        case _          => del(off, conv, None)
      }
    }
    CdcApply.applyBatch(spark, src, eventsDF(spark, batch(40)), spec = mor, epoch = Some(("s", 0L)))
    val boot = Scd2History.refresh(spark, src, h, mor)
    assert(boot.fromVersion.isEmpty && !boot.result.skipped)
    val bootV = boot.toVersion
    (1 until 6).foreach { i =>
      CdcApply.applyBatch(spark, src, eventsDF(spark, batch(40)), spec = mor, epoch = Some(("s", i.toLong)))
      val r = Scd2History.refresh(spark, src, h, mor)
      assert(!r.result.skipped)
      // current rows == source state after every refresh
      val cur = Scd2History.currentState(spark, h)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      val st = src.read(spark).collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(cur == st, s"current-state mismatch after refresh $i")
    }
    val eng = engineHistory(h)
    assertWellFormed(eng)
    assert(eng == oracleHistory(src, bootV, src.currentVersion))
    // idempotence: nothing new ⇒ skip, cursor holds
    val noop = Scd2History.refresh(spark, src, h, mor)
    assert(noop.result.skipped && Scd2History.cursor(src, h).contains(src.currentVersion))
  }

  test("one catch-up refresh over many commits equals per-commit refreshes") {
    def mkSrc(dir: String): IceLiteTable = IceLite.create(tmpDir(dir) + "/t", turnSchema, 4)
    val src = mkSrc("scd2-cu-src")
    val hStep = IceLite.create(tmpDir("scd2-cu-h1") + "/t", Scd2History.historySchema(turnSchema), 4)
    val hOnce = IceLite.create(tmpDir("scd2-cu-h2") + "/t", Scd2History.historySchema(turnSchema), 4)
    val rnd = new scala.util.Random(48)
    var off = 0L
    def batch(n: Int): Seq[graft.model.ChangeEvent] = (0 until n).map { _ =>
      off += 1
      val conv = f"c${rnd.nextInt(5)}%02d"
      rnd.nextInt(10) match {
        case r if r < 5 => ins(off, conv, rnd.nextInt(3), s"t-$off")
        case r if r < 8 => upd(off, conv, rnd.nextInt(3), s"u-$off")
        case 8          => del(off, conv, Some(rnd.nextInt(3)))
        case _          => del(off, conv, None)
      }
    }
    CdcApply.applyBatch(spark, src, eventsDF(spark, batch(30)), spec = mor, epoch = Some(("s", 0L)))
    Scd2History.refresh(spark, src, hStep, mor)
    Scd2History.refresh(spark, src, hOnce, mor) // same bootstrap version
    (1 until 5).foreach { i =>
      CdcApply.applyBatch(spark, src, eventsDF(spark, batch(30)), spec = mor, epoch = Some(("s", i.toLong)))
      Scd2History.refresh(spark, src, hStep, mor)
    }
    val once = Scd2History.refresh(spark, src, hOnce, mor) // one refresh over 4 commits
    assert(!once.result.skipped)
    assert(engineHistory(hOnce) == engineHistory(hStep))
  }

  test("a wipe closes every open version; the same commit's re-insert opens a new one") {
    val src = IceLite.create(tmpDir("scd2-w-src") + "/t", turnSchema, 4)
    val h = IceLite.create(tmpDir("scd2-w-h") + "/t", Scd2History.historySchema(turnSchema), 4)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      ins(0, "c1", 0, "old0"), ins(1, "c1", 1, "old1"), ins(2, "c2", 0, "keep"))),
      spec = mor, epoch = Some(("s", 0L)))
    Scd2History.refresh(spark, src, h, mor)
    val bootV = Scd2History.cursor(src, h).get
    // one commit: wipe c1, re-insert c1/0 (survives the wipe by the engine rule)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      del(3, "c1", None), ins(4, "c1", 0, "new0"))), spec = mor, epoch = Some(("s", 1L)))
    Scd2History.refresh(spark, src, h, mor)
    val v = src.currentVersion
    val eng = engineHistory(h)
    assertWellFormed(eng)
    assert(eng(("c1", 0)).map(x => (x._1._2, x._2, x._3)) ==
      Seq(("old0", bootV, Some(v)), ("new0", v, None)))
    assert(eng(("c1", 1)).map(x => (x._1._2, x._2, x._3)) == Seq(("old1", bootV, Some(v))))
    assert(eng(("c2", 0)).map(x => (x._1._2, x._2, x._3)) == Seq(("keep", bootV, None)))
    assert(eng == oracleHistory(src, bootV, v))
  }

  test("wipe + IDENTICAL same-commit re-insert is invisible: snapshots equal, no phantom version") {
    val src = IceLite.create(tmpDir("scd2-wid-src") + "/t", turnSchema, 4)
    val h = IceLite.create(tmpDir("scd2-wid-h") + "/t", Scd2History.historySchema(turnSchema), 4)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      ins(0, "c1", 0, "same"), ins(1, "c1", 1, "gone"))),
      spec = mor, epoch = Some(("s", 0L)))
    Scd2History.refresh(spark, src, h, mor)
    val bootV = Scd2History.cursor(src, h).get
    // one commit: wipe c1, re-insert c1/0 with the IDENTICAL row — the
    // engine keeps it (same ts/text as offset 0? ts differs by offset...
    // re-insert with the same offset-derived content via an upsert that
    // reproduces the original turn exactly)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      del(2, "c1", None),
      ins(0, "c1", 0, "same").copy(offset = 3L, ts = ts(3)))), spec = mor, epoch = Some(("s", 1L)))
    Scd2History.refresh(spark, src, h, mor)
    val v = src.currentVersion
    val eng = engineHistory(h)
    assertWellFormed(eng)
    // c1/0's snapshot state is identical before and after the wipe commit
    // — exactly ONE version, still current; c1/1 closed at v
    assert(eng(("c1", 0)).map(x => (x._1._2, x._2, x._3)) == Seq(("same", bootV, None)),
      eng(("c1", 0)).toString)
    assert(eng(("c1", 1)).map(x => (x._1._2, x._2, x._3)) == Seq(("gone", bootV, Some(v))))
    assert(eng == oracleHistory(src, bootV, v))
  }

  test("unchanged rows open no version: an update that matches nothing is invisible") {
    val src = IceLite.create(tmpDir("scd2-nop-src") + "/t", turnSchema, 4)
    val h = IceLite.create(tmpDir("scd2-nop-h") + "/t", Scd2History.historySchema(turnSchema), 4)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(0, "c1", 0, "a"))),
      spec = mor, epoch = Some(("s", 0L)))
    Scd2History.refresh(spark, src, h, mor)
    // an UPDATE of a key that does not exist: dropped by the source, so no version
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(upd(1, "c9", 0, "ghost"))),
      spec = mor, epoch = Some(("s", 1L)))
    val r = Scd2History.refresh(spark, src, h, mor)
    assert(!r.result.skipped)
    val eng = engineHistory(h)
    assert(!eng.contains(("c9", 0)) && eng(("c1", 0)).size == 1)
    assert(eng == oracleHistory(src, 2L, src.currentVersion))
  }

  test("append-commit source ranges are rejected") {
    val src = IceLite.create(tmpDir("scd2-rej-src") + "/t",
      graft.operators.EventLogApply.logSchema(turnSchema), 4)
    val h = IceLite.create(tmpDir("scd2-rej-h") + "/t", Scd2History.historySchema(turnSchema), 4)
    // an append-only event-log commit in range is not a keyed-state source
    graft.operators.EventLogApply.appendBatch(spark, src,
      eventsDF(spark, Seq(ins(0, "c1", 0, "a"), ins(1, "c1", 0, "b"))))
    val e = intercept[IllegalArgumentException](Scd2History.refresh(spark, src, h, mor))
    assert(e.getMessage.contains("keyed-state"))
  }
}
