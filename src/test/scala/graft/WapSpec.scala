package graft

import graft.operators.CdcApply
import graft.table.IceLite

/** Write-audit-publish (B12): a batch staged under an audit name leaves
  * the table untouched, its would-be state is queryable, publish is one
  * atomic CAS carrying the staged snapshot (epoch markers included), a
  * stale publish fails loudly, and discard reclaims the audit's own
  * files without touching shared state.
  */
class WapSpec extends SparkSuite {
  import TestHelpers._

  private def stateOf(t: graft.table.IceLiteTable) =
    readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text))

  test("stage: table pointer untouched; audit state = current + batch; publish lands it atomically") {
    val dir = tmpDir("wap-basic") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val seed = (0 until 20).map(i => ins(i.toLong, f"c$i%03d", 0, s"base$i"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, seed), epoch = Some(("w", 0L)))
    val vBefore = t.currentVersion
    val baseState = stateOf(t)

    val batch = (0 until 10).map(i => ups((100 + i).toLong, f"c$i%03d", 0, s"new$i")) :+
      del(200L, "c015", None)
    val r = CdcApply.applyBatch(spark, t, eventsDF(spark, batch),
      epoch = Some(("w", 1L)), auditRef = Some("batch-1"))
    assert(!r.skipped && r.eventsSeen == 11L)

    // staged, not committed: pointer and readable state unchanged
    assert(t.currentVersion == vBefore && stateOf(t) == baseState)
    assert(t.audits == Map("batch-1" -> vBefore))
    // epoch high-water NOT advanced: the batch has not landed
    assert(!t.current.properties.contains("epoch:w") ||
      t.current.properties("epoch:w").toLong < 1L)

    // the audited would-be state equals the oracle over seed + batch
    val want = OracleFold.rows(OracleFold.finalState(seed ++ batch))
      .map(x => (x.conv_id, x.turn_idx, x.text))
    val audited = t.readAudit(spark, "batch-1").select("conv_id", "turn_idx", "text")
      .collect().map(r0 => (r0.getString(0), r0.getInt(1), r0.getString(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(audited == want)

    // publish: one atomic commit carrying the staged snapshot
    val snap = t.publishAudit("batch-1")
    assert(snap.version == vBefore + 1)
    assert(stateOf(t) == want)
    assert(t.audits.isEmpty, "published audit is consumed")
    // epoch marker landed with the publish: redelivery is the usual no-op
    assert(CdcApply.applyBatch(spark, t, eventsDF(spark, batch), epoch = Some(("w", 1L))).skipped)
    // the published snapshot is feed-readable like any commit
    val feed = t.readChanges(spark, vBefore)
    assert(feed.count() > 0)
  }

  test("stale publish fails loudly after an intervening commit; discard reclaims only the audit's files") {
    val dir = tmpDir("wap-stale") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "seed"))), epoch = Some(("w", 0L)))
    CdcApply.applyBatch(spark, t,
      eventsDF(spark, Seq(ins(1L, "c9", 0, "a"))), epoch = Some(("w", 1L)), auditRef = Some("aud"))
    val auditOwn = {
      val a = t.auditSnapshot("aud")
      val cur = t.current
      ((a.files.values.flatten ++ a.deltas.values.flatten).toSet --
        (cur.files.values.flatten ++ cur.deltas.values.flatten)).toSeq
    }
    assert(auditOwn.nonEmpty)
    // a direct commit lands while the audit is under review
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(2L, "c2", 0, "direct"))), epoch = Some(("w", 2L)))
    val e = intercept[IllegalStateException](t.publishAudit("aud"))
    assert(e.getMessage.contains("discardAudit and re-stage"), e.getMessage)
    // table unaffected by the failed publish
    assert(stateOf(t).map(_._3).sorted == Seq("direct", "seed"))

    // discard deletes the audit's own files but no shared state
    assert(t.discardAudit("aud"))
    auditOwn.foreach { rel =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir).resolve(rel)),
        s"discard must delete the audit's own file $rel")
    }
    assert(stateOf(t).map(_._3).sorted == Seq("direct", "seed"))
    assert(!t.discardAudit("aud"), "second discard is a no-op")

    // re-stage against the new parent, publish succeeds
    CdcApply.applyBatch(spark, t,
      eventsDF(spark, Seq(ins(3L, "c9", 0, "a2"))), epoch = Some(("w", 3L)), auditRef = Some("aud"))
    t.publishAudit("aud")
    assert(stateOf(t).map(_._3).sorted == Seq("a2", "direct", "seed"))
  }

  test("concurrent audit writer vs direct writer: stale publishes are discarded+re-staged, final state equals oracle") {
    // One writer commits directly while another stages+publishes through
    // the audit gate, truly concurrently. Staging reuses applyBatch's race
    // fences (a commit landing mid-stage re-stages against the new
    // parent), and a commit landing between stage and publish makes the
    // publish fail loudly — the documented remedy (discard + re-stage +
    // re-publish) must converge, and the final table must equal the
    // sequential oracle over both writers' events (disjoint conv
    // universes make the merged oracle commit-order independent).
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val rnd = new scala.util.Random(37)
    val dir = tmpDir("wap-race") + "/t"
    val t = IceLite.create(dir, turnSchema, 8)
    def randomBatch(prefix: String, base: Long, n: Int) =
      (0 until n).map { i =>
        val off = base + i
        val conv = f"$prefix${rnd.nextInt(10)}%02d"
        val turn = rnd.nextInt(3)
        rnd.nextInt(100) match {
          case r if r < 50 => ins(off, conv, turn, s"$prefix-ins-$off")
          case r if r < 75 => ups(off, conv, turn, s"$prefix-ups-$off")
          case r if r < 90 => del(off, conv, Some(turn))
          case _           => del(off, conv, None)
        }
      }
    var all = Vector.empty[graft.model.ChangeEvent]
    var republishes = 0
    (0 until 3).foreach { r =>
      val bDirect = randomBatch("dw", r * 1000L, 25 + rnd.nextInt(15))
      val bAudit = randomBatch("aw", r * 1000L + 500, 25 + rnd.nextInt(15))
      all = all ++ bDirect ++ bAudit
      val fDirect = Future(
        CdcApply.applyBatch(spark, t, eventsDF(spark, bDirect), epoch = Some(("dw", r.toLong))))
      val fAudit = Future(
        CdcApply.applyBatch(spark, t, eventsDF(spark, bAudit),
          epoch = Some(("aw", r.toLong)), auditRef = Some("gate")))
      assert(!Await.result(fAudit, Duration.Inf).skipped)
      // publish while the direct writer may still be in flight: a stale
      // publish is discarded and the batch re-staged until it lands
      var published = false
      var attempts = 0
      while (!published) {
        attempts += 1
        assert(attempts <= 10, s"round $r: publish did not converge")
        try { t.publishAudit("gate"); published = true }
        catch {
          case e: IllegalStateException if e.getMessage.contains("re-stage") =>
            republishes += 1
            t.discardAudit("gate")
            assert(!CdcApply.applyBatch(spark, t, eventsDF(spark, bAudit),
              epoch = Some(("aw", r.toLong)), auditRef = Some("gate")).skipped)
        }
      }
      assert(!Await.result(fDirect, Duration.Inf).skipped)
    }
    assert(t.audits.isEmpty)
    val want = OracleFold.rows(OracleFold.finalState(all)).map(x => (x.conv_id, x.turn_idx, x.text))
    assert(stateOf(t) == want,
      s"concurrent audit-gated replay must equal the sequential oracle ($republishes re-stages)")
    // every audited epoch landed exactly once: redeliveries are no-ops
    (0 until 3).foreach { r =>
      assert(CdcApply.applyBatch(spark, t,
        eventsDF(spark, Seq(ins(9000L + r, "aw00", 0, "redo"))), epoch = Some(("aw", r.toLong))).skipped)
    }
  }

  test("re-staging a name replaces it; bad names rejected; quarantine at stage time") {
    val dir0 = tmpDir("wap-misc")
    val dir = dir0 + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "seed"))), epoch = Some(("w", 0L)))
    CdcApply.applyBatch(spark, t,
      eventsDF(spark, Seq(ins(1L, "c2", 0, "first"))), epoch = Some(("w", 1L)), auditRef = Some("x"))
    CdcApply.applyBatch(spark, t,
      eventsDF(spark, Seq(ins(2L, "c3", 0, "second"))), epoch = Some(("w", 1L)), auditRef = Some("x"))
    t.publishAudit("x")
    // the second staging replaced the first wholesale
    assert(stateOf(t).map(_._3).sorted == Seq("second", "seed"))

    // named audits coexist: both list with their stage parents, and
    // publishing one makes the other stale (its parent moved)
    val vCo = t.currentVersion
    CdcApply.applyBatch(spark, t,
      eventsDF(spark, Seq(ins(5L, "c5", 0, "co-a"))), epoch = Some(("w", 2L)), auditRef = Some("co-a"))
    CdcApply.applyBatch(spark, t,
      eventsDF(spark, Seq(ins(6L, "c6", 0, "co-b"))), epoch = Some(("w", 3L)), auditRef = Some("co-b"))
    assert(t.audits == Map("co-a" -> vCo, "co-b" -> vCo))
    t.publishAudit("co-a")
    intercept[IllegalStateException](t.publishAudit("co-b"))
    assert(t.discardAudit("co-b") && t.audits.isEmpty)

    intercept[IllegalArgumentException](t.readAudit(spark, "../escape"))
    intercept[NoSuchElementException](t.readAudit(spark, "nope"))

    // invalid records quarantine at STAGE time (the record of the staging
    // act); the table stays unpublished
    val vBefore = t.currentVersion
    val bad = Seq(ins(10L, "c8", 0, "ok"),
      graft.model.ChangeEvent(0, 11L, ts(11L), "insert", null, Some(0), None, 2))
    val rejDir = s"$dir0/rej"
    val r = CdcApply.applyBatch(spark, t, eventsDF(spark, bad),
      epoch = Some(("w", 9L)), rejectedDir = Some(rejDir), auditRef = Some("q"))
    assert(r.rejected == 1L && t.currentVersion == vBefore)
    assert(spark.read.parquet(rejDir).count() == 1L)
    t.publishAudit("q")
    assert(stateOf(t).map(_._3).contains("ok"))
  }
}
