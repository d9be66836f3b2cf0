package graft

import org.apache.spark.sql.functions._

import graft.model.MergeSpec
import graft.operators.{CdcApply, IncrementalView}
import graft.operators.IncrementalView.ViewSpec
import graft.table.IceLite

/** Incremental materialized aggregate views (`IncrementalView.refresh`):
  * the maintained view must equal a full recompute of the aggregate
  * after every refresh, across inserts/updates/deletes/wipes, group
  * birth and death, multi-commit catch-up, and re-delivered refreshes.
  */
class IncrementalViewSpec extends SparkSuite {
  import TestHelpers._

  private val mor = MergeSpec(morCompactThreshold = 1000)
  private val vspec = ViewSpec(
    dims = Seq("role" -> col("role")),
    sums = Seq("turns" -> col("turn_idx").cast("long"), "chars" -> length(col("text")).cast("long")))

  private def recompute(src: graft.table.IceLiteTable): Seq[Row3] =
    rows(src.read(spark).groupBy("role").agg(
      count(lit(1)).as("cnt"), sum(col("turn_idx").cast("long")).as("turns"),
      sum(length(col("text")).cast("long")).as("chars")))

  private type Row3 = (String, Long, Long, Long)
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row3] =
    df.select("role", "cnt", "turns", "chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted

  test("view tracks a randomly mutated source exactly, refresh by refresh") {
    val src = IceLite.create(tmpDir("ivm-src") + "/t", turnSchema, 4)
    val view = IceLite.create(tmpDir("ivm-view") + "/t",
      IncrementalView.viewSchema(spark, src, vspec), 4)
    val rnd = new scala.util.Random(47)
    var off = 0L
    def batch(n: Int): Seq[graft.model.ChangeEvent] = (0 until n).map { _ =>
      off += 1
      val conv = f"c${rnd.nextInt(8)}%02d"
      rnd.nextInt(10) match {
        case r if r < 6 => ins(off, conv, rnd.nextInt(4), s"text-$off")
        case r if r < 8 => upd(off, conv, rnd.nextInt(4), s"u-$off")
        case 8          => del(off, conv, Some(rnd.nextInt(4)))
        case _          => del(off, conv, None)
      }
    }
    // bootstrap after two source commits, then incremental per commit
    (0 until 2).foreach { i =>
      CdcApply.applyBatch(spark, src, eventsDF(spark, batch(40)), spec = mor, epoch = Some(("s", i.toLong)))
    }
    val boot = IncrementalView.refresh(spark, src, view, vspec, mor)
    assert(boot.fromVersion.isEmpty && !boot.result.skipped)
    assert(rows(IncrementalView.read(spark, view, vspec)) == recompute(src))
    (2 until 6).foreach { i =>
      CdcApply.applyBatch(spark, src, eventsDF(spark, batch(40)), spec = mor, epoch = Some(("s", i.toLong)))
      val r = IncrementalView.refresh(spark, src, view, vspec, mor)
      assert(!r.result.skipped)
      assert(rows(IncrementalView.read(spark, view, vspec)) == recompute(src),
        s"view diverged from recompute after refresh $i")
    }
    // no new commits: refresh is a skip; cursor pinned to source version
    val noop = IncrementalView.refresh(spark, src, view, vspec, mor)
    assert(noop.result.skipped && IncrementalView.cursor(src, view).contains(src.currentVersion))
  }

  test("NULL measure values contribute 0: a null-text insert must not wipe an existing group sum") {
    val src = IceLite.create(tmpDir("ivm-null-src") + "/t", turnSchema, 4)
    val view = IceLite.create(tmpDir("ivm-null-view") + "/t",
      IncrementalView.viewSchema(spark, src, vspec), 4)
    // commit 1: a real-text row establishes chars=6 for role 'user'
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(1, "c01", 0, "abcdef"))),
      spec = mor, epoch = Some(("s", 0L)))
    IncrementalView.refresh(spark, src, view, vspec, mor)
    // commit 2: a NEW conversation in the same group with text=null —
    // its chars delta is an all-NULL sum; the stored 6 must survive
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(2, "c02", 0, null))),
      spec = mor, epoch = Some(("s", 1L)))
    IncrementalView.refresh(spark, src, view, vspec, mor)
    val got = rows(IncrementalView.read(spark, view, vspec))
    assert(got == Seq(("user", 2L, 0L, 6L)), got.toString)
  }

  test("group death: a role wiped from the corpus leaves the view") {
    val src = IceLite.create(tmpDir("ivm-death-src") + "/t", turnSchema, 4)
    val view = IceLite.create(tmpDir("ivm-death-view") + "/t",
      IncrementalView.viewSchema(spark, src, vspec), 4)
    // two convs; all of conv c1's turns are role "user" (TestHelpers.turn)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      ins(0, "c1", 0, "a"), ins(1, "c1", 1, "b"), ins(2, "c2", 0, "c"))),
      spec = mor, epoch = Some(("s", 0L)))
    IncrementalView.refresh(spark, src, view, vspec, mor)
    assert(rows(IncrementalView.read(spark, view, vspec)).map(_._2).sum == 3)
    // wipe everything -> the "user" group's cnt hits 0 -> deleted from view
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      del(3, "c1", None), del(4, "c2", None))), spec = mor, epoch = Some(("s", 1L)))
    IncrementalView.refresh(spark, src, view, vspec, mor)
    assert(IncrementalView.read(spark, view, vspec).count() == 0)
    assert(recompute(src).isEmpty)
  }

  test("catch-up across several source commits in one refresh") {
    val src = IceLite.create(tmpDir("ivm-catchup-src") + "/t", turnSchema, 4)
    val view = IceLite.create(tmpDir("ivm-catchup-view") + "/t",
      IncrementalView.viewSchema(spark, src, vspec), 4)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(0, "c1", 0, "a"))),
      spec = mor, epoch = Some(("s", 0L)))
    IncrementalView.refresh(spark, src, view, vspec, mor)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(1, "c2", 0, "bb"), upd(2, "c1", 0, "aaa"))),
      spec = mor, epoch = Some(("s", 1L)))
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(del(3, "c2", Some(0)), ins(4, "c3", 2, "cc"))),
      spec = mor, epoch = Some(("s", 2L)))
    val r = IncrementalView.refresh(spark, src, view, vspec, mor) // covers 2 commits
    assert(!r.result.skipped)
    assert(rows(IncrementalView.read(spark, view, vspec)) == recompute(src))
  }

  test("multi-dim keys are injective: adversarial dim values stay distinct groups") {
    // two groups whose tuples concatenate identically under any single
    // separator the data can also contain: ("ab","c") vs ("a","bc")
    // -- and a null dim vs an empty-string dim. Each must remain its own
    // view row through bootstrap AND incremental refresh.
    val dims = ViewSpec(
      dims = Seq(
        "d1" -> split(col("text"), "\\|").getItem(0),
        "d2" -> when(split(col("text"), "\\|").getItem(1) === "NULL", lit(null))
          .otherwise(split(col("text"), "\\|").getItem(1))),
      sums = Seq("turns" -> col("turn_idx").cast("long")))
    val src = IceLite.create(tmpDir("ivm-inj-src") + "/t", turnSchema, 4)
    val view = IceLite.create(tmpDir("ivm-inj-view") + "/t",
      IncrementalView.viewSchema(spark, src, dims), 4)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      ins(0, "c1", 0, "ab|c"), ins(1, "c2", 0, "a|bc"),
      ins(2, "c3", 0, "x|NULL"), ins(3, "c4", 0, "x|"))),
      spec = mor, epoch = Some(("s", 0L)))
    IncrementalView.refresh(spark, src, view, dims, mor)
    def viewGroups() = IncrementalView.read(spark, view, dims)
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2))).toSeq.sorted
    assert(viewGroups() == Seq(
      ("a", Some("bc"), 1L), ("ab", Some("c"), 1L),
      ("x", None, 1L), ("x", Some(""), 1L)))
    // incremental refresh must hit the SAME keys (join with current view rows)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(
      ins(4, "c5", 1, "ab|c"), del(5, "c3", None))),
      spec = mor, epoch = Some(("s", 1L)))
    IncrementalView.refresh(spark, src, view, dims, mor)
    assert(viewGroups() == Seq(
      ("a", Some("bc"), 1L), ("ab", Some("c"), 2L), ("x", Some(""), 1L)))
  }

  test("a view over an append-only source keeps duplicate keys (two-read fallback)") {
    import graft.operators.EventLogApply
    // an event log holds EVERY delivered event — several rows per
    // (conv_id, turn_idx) are legitimate; the keyed feed-fold fast path
    // would collapse them, so ranges with append commits must fall back
    // to reading both sides
    val logSchema = EventLogApply.logSchema(turnSchema)
    val src = IceLite.create(tmpDir("ivm-log-src") + "/t", logSchema, 4)
    val vspec2 = ViewSpec(dims = Seq("op" -> col("op")))
    val view = IceLite.create(tmpDir("ivm-log-view") + "/t",
      IncrementalView.viewSchema(spark, src, vspec2), 4)
    EventLogApply.appendBatch(spark, src, eventsDF(spark, Seq(
      ins(0, "c1", 0, "a"), upd(1, "c1", 0, "a2"))), epoch = Some(("l", 0L)))
    IncrementalView.refresh(spark, src, view, vspec2, mor)
    // same keys appended AGAIN in the incremental range — counts must add
    EventLogApply.appendBatch(spark, src, eventsDF(spark, Seq(
      upd(2, "c1", 0, "a3"), del(3, "c1", Some(0)))), epoch = Some(("l", 1L)))
    IncrementalView.refresh(spark, src, view, vspec2, mor)
    val got = IncrementalView.read(spark, view, vspec2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq(("delete", 1L), ("insert", 1L), ("update", 2L)))
  }

  test("the view is itself feed-readable (downstream of a view composes)") {
    val src = IceLite.create(tmpDir("ivm-feed-src") + "/t", turnSchema, 4)
    val view = IceLite.create(tmpDir("ivm-feed-view") + "/t",
      IncrementalView.viewSchema(spark, src, vspec), 4)
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(0, "c1", 0, "a"))),
      spec = mor, epoch = Some(("s", 0L)))
    IncrementalView.refresh(spark, src, view, vspec, mor)
    val v1 = view.currentVersion
    CdcApply.applyBatch(spark, src, eventsDF(spark, Seq(ins(1, "c1", 1, "b"))),
      spec = mor, epoch = Some(("s", 1L)))
    IncrementalView.refresh(spark, src, view, vspec, mor)
    val changes = view.readChanges(spark, v1).select("row.role", "row.cnt").collect()
    assert(changes.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("user", 2L)))
  }
}
