package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.{CdcApply, EventLogApply}
import graft.table.{IceLite, IceLiteTable}

/** Orphan data-file lifecycle: raced writers delete their own staged
  * files immediately (rebucket, delta compaction), and
  * `removeOrphanFiles` collects the crash class — files referenced by no
  * reachable snapshot — without touching live, audit-referenced, or
  * grace-fresh files. Before this suite's fixes the raced-rebucket stage
  * (a full table copy) leaked forever: expiry's dead-ref collection only
  * sees files referenced by snapshots it drops, never files that were
  * never committed at all.
  */
class OrphanFilesSpec extends SparkSuite {
  import TestHelpers._

  /** Every parquet file on disk under `data/`, table-relative. */
  private def diskParquet(dir: String): Set[String] = {
    val data = Paths.get(dir, "data")
    if (!Files.isDirectory(data)) return Set.empty
    val w = Files.walk(data)
    try w.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => Paths.get(dir).relativize(p).toString).toSet
    finally w.close()
  }

  /** Every file referenced by any still-readable version. */
  private def liveRefs(t: graft.table.IceLiteTable): Set[String] =
    (1L to t.currentVersion).flatMap(v => scala.util.Try(t.snapshot(v)).toOption)
      .flatMap(s => s.files.values.flatten ++ s.deltas.values.flatten).toSet

  private def assertNoUnreferenced(dir: String, t: graft.table.IceLiteTable): Unit = {
    val stray = diskParquet(dir) -- liveRefs(t)
    assert(stray.isEmpty, s"unreferenced parquet left on disk: $stray")
  }

  /** One writer raced by a concurrent commit that lands through the one
    * after-staging hook (`IceLite.testOnStaged`): the table it writes
    * (`buckets`, state or event log), its seed commits, the write and its
    * outcome, the racer, and the rows the table holds afterwards.
    */
  private final case class Race(
      writer: String, racer: String, logTable: Boolean, buckets: Int,
      seed: IceLiteTable => Unit, write: IceLiteTable => String, race: IceLiteTable => Unit,
      outcome: String, rows: Long)

  private def rowsOf(tag: String, n: Int, turn: Int) =
    eventsDF(spark, (0 until n).map(i => ins((turn * 1000 + i).toLong, f"$tag$i%03d", turn, s"$tag$turn-$i")))
  private def outcome(r: CdcApply.BatchResult): String = if (r.skipped) "skipped" else "committed"
  private def cdc(t: IceLiteTable, tag: String, n: Int, epoch: (String, Long), turn: Int = 0): String =
    outcome(CdcApply.applyBatch(spark, t, rowsOf(tag, n, turn), epoch = Some(epoch)))
  private def logAppend(t: IceLiteTable, tag: String, n: Int, epoch: (String, Long), turn: Int = 0): String =
    outcome(EventLogApply.appendBatch(spark, t, rowsOf(tag, n, turn), epoch = Some(epoch)))

  private val races = Seq(
    Race("applyBatch", "another stream's commit", logTable = false, 4,
      cdc(_, "c", 20, ("q", 0L)), cdc(_, "w", 10, ("q", 1L)), cdc(_, "r", 5, ("r", 0L)),
      "committed", 35L),
    Race("applyBatch", "the same epoch's commit", logTable = false, 4,
      cdc(_, "c", 20, ("q", 0L)), cdc(_, "w", 10, ("q", 1L)), cdc(_, "r", 5, ("q", 1L)),
      "skipped", 25L),
    Race("appendBatch", "another stream's commit", logTable = true, 4,
      logAppend(_, "c", 20, ("q", 0L)), logAppend(_, "w", 10, ("q", 1L)), logAppend(_, "r", 5, ("r", 0L)),
      "committed", 35L),
    Race("appendBatch", "the same epoch's commit", logTable = true, 4,
      logAppend(_, "c", 20, ("q", 0L)), logAppend(_, "w", 10, ("q", 1L)), logAppend(_, "r", 5, ("q", 1L)),
      "skipped", 25L),
    // three epochs over both buckets; the racer touches one of them
    Race("compactDeltas", "a delta in one bucket", logTable = false, 2,
      t => (0 until 3).foreach(e => cdc(t, "c", 20, ("q", e.toLong), turn = e)),
      t => s"committed ${t.compactDeltas(spark, maxDeltasPerBucket = 1)}",
      cdc(_, "c", 1, ("q", 3L), turn = 3),
      "committed 1", 61L),
    Race("compact", "an append to one bucket", logTable = true, 2,
      t => (0 until 3).foreach(e => logAppend(t, "c", 20, ("q", e.toLong), turn = e)),
      t => s"committed ${t.compact(spark, maxFilesPerBucket = 1)}",
      logAppend(_, "c", 1, ("q", 3L), turn = 3),
      "committed 1", 61L),
    Race("rebucket", "a CDC commit", logTable = false, 4,
      cdc(_, "c", 20, ("q", 0L)),
      t => try { t.rebucket(spark, 8); "committed" } catch {
        case e: IllegalStateException if e.getMessage.contains("raced") => "failed: raced"
      },
      cdc(_, "r", 5, ("q", 1L)),
      "failed: raced", 25L))

  for (r <- races)
    test(s"${r.writer} raced by ${r.racer}: ${r.outcome}, no stray file") {
      val dir = tmpDir(s"race-${r.writer}") + "/t"
      val t = IceLite.create(dir, if (r.logTable) EventLogApply.logSchema(turnSchema) else turnSchema, r.buckets)
      r.seed(t)
      IceLite.testOnStaged.set(() => r.race(t))
      assert(r.write(t) == r.outcome)
      assert(IceLite.testOnStaged.get == null, "the racer landed through the hook")
      assert(t.read(spark).count() == r.rows)
      assertNoUnreferenced(dir, t)
    }

  test("raced rebucket deletes its staged rewrite instead of leaking it") {
    val dir = tmpDir("orphan-rebucket") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val b = (0 until 40).map(i => ins(i.toLong, f"c$i%03d", 0, s"t$i"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, b), epoch = Some(("q", 0L)))
    val before = readTable(spark, t).map(x => (x.conv_id, x.turn_idx)).sorted

    IceLite.testOnStaged.set(() => {
      CdcApply.applyBatch(spark, t,
        eventsDF(spark, Seq(ins(100L, "zz1", 0, "racer"))), epoch = Some(("q", 1L)))
      ()
    })
    val e = intercept[IllegalStateException](t.rebucket(spark, 16))
    assert(e.getMessage.contains("staged files deleted"), e.getMessage)
    assertNoUnreferenced(dir, t)

    // re-run succeeds and the racer's row is in the new layout
    val snap = t.rebucket(spark, 16)
    assert(snap.numBuckets == 16)
    assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx)).sorted ==
      (before :+ (("zz1", 0))).sorted)
    assertNoUnreferenced(dir, t)
  }

  test("compactDeltas: a raced-out bucket's staged merge is deleted, safe buckets commit") {
    val dir = tmpDir("orphan-compact") + "/t"
    val t = IceLite.create(dir, turnSchema, 2)
    // three MOR epochs touching both buckets -> 3 delta files per bucket
    (0 until 3).foreach { e =>
      val b = (0 until 20).map(i => ins((e * 100 + i).toLong, f"c$i%03d", e, s"t$e-$i"))
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), epoch = Some(("q", e.toLong)))
    }
    assert(t.current.deltas.keySet == Set(0, 1))
    val expected = readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)).sorted

    // between staging and commit, a delta lands in ONE bucket -> that
    // bucket must race out of the safe set and keep its (grown) deltas
    IceLite.testOnStaged.set(() => {
      CdcApply.applyBatch(spark, t,
        eventsDF(spark, Seq(ins(999L, "c000", 3, "racer"))), epoch = Some(("q", 3L)))
      ()
    })
    val compacted = t.compactDeltas(spark, maxDeltasPerBucket = 1)
    assert(compacted == 1, s"exactly the untouched bucket compacts, got $compacted")
    val cur = t.current
    assert(cur.deltas.size == 1, s"raced bucket keeps its deltas: ${cur.deltas.keySet}")
    assertNoUnreferenced(dir, t)
    val after = readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)).sorted
    assert(after == (expected :+ (("c000", 3, "racer"))).sorted)
  }

  test("a shared epoch file lives until the last bucket listing it drops it; metadata counts it once") {
    val dir = tmpDir("orphan-shared") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val b = (0 until 24).map(i => ins(i.toLong, f"c$i%03d", 0, s"t$i"))
    CdcApply.applyBatch(spark, t, batchOf(spark, b, BatchShape("one-task", 1)), epoch = Some(("q", 0L)))
    val Seq(shared) = t.current.deltas.values.flatten.toSeq.distinct
    val path = Paths.get(dir).resolve(shared)
    assert(t.current.deltas.keySet == Set(0, 1, 2, 3) && t.current.deltas.values.forall(_ == Seq(shared)))
    val expected = readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)).sorted
    assert(expected.size == 24)

    // the metadata tables count the file once, under all four buckets
    val snapRow = graft.table.MetaTables.snapshots(spark, t).collect().last
    assert(snapRow.getAs[Int]("n_delta_files") == 1 && snapRow.getAs[Long]("delta_bytes") == Files.size(path))
    val Array(fileRow) = graft.table.MetaTables.files(spark, t).collect()
    assert(fileRow.getAs[scala.collection.Seq[Int]]("buckets").toSeq == Seq(0, 1, 2, 3) && fileRow.getAs[Long]("row_count") == 24L)

    def keeps(clue: String): Unit = {
      assert(t.removeOrphanFiles(graceMs = 0L) == 0 && Files.exists(path), s"$clue: orphan sweep took it")
      assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)).sorted == expected, clue)
    }
    // two buckets drop it, two still list it: expiry of every older
    // snapshot must keep it
    assert(t.compactDeltas(spark, maxBuckets = 2) == 2)
    assert(t.current.deltas.values.flatten.toSet == Set(shared) && t.current.deltas.size == 2)
    t.expireSnapshots(keepLast = 1)
    keeps("listed under two buckets")
    // the last two drop it: retained older snapshots still list it
    assert(t.compactDeltas(spark) == 2 && t.current.deltas.isEmpty)
    keeps("listed by a retained snapshot only")
    // expiring them reclaims it
    val (_, deleted) = t.expireSnapshots(keepLast = 1)
    assert(deleted == 1 && !Files.exists(path))
    assertNoUnreferenced(dir, t)
    assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)).sorted == expected)
  }

  test("removeOrphanFiles: collects aged crash orphans; spares live, audit, and grace-fresh files") {
    val dir = tmpDir("orphan-remove") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val b = (0 until 30).map(i => ins(i.toLong, f"c$i%03d", 0, s"t$i"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, b), epoch = Some(("q", 0L)))
    CdcApply.applyBatch(spark, t,
      eventsDF(spark, (0 until 10).map(i => ins((100 + i).toLong, f"c$i%03d", 1, s"u$i"))),
      epoch = Some(("q", 1L)))
    val oldV = t.currentVersion
    val expected = readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)).sorted

    // a staged-but-unpublished audit: its files are reachable and must survive
    val audited = CdcApply.applyBatch(spark, t,
      eventsDF(spark, Seq(ins(200L, "aud", 0, "staged"))),
      epoch = Some(("q", 2L)), auditRef = Some("gate"))
    assert(!audited.skipped)

    // an aged crash orphan (writer died between staging and commit) and a
    // fresh one (a writer could be mid-commit RIGHT NOW)
    val agedDir = Files.createDirectories(Paths.get(dir, "data", "crashed-stage", "bucket=0"))
    val aged = agedDir.resolve("part-orphan.parquet")
    Files.write(aged, "junk".getBytes)
    Files.setLastModifiedTime(aged,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 172800000L))
    val fresh = agedDir.resolveSibling("bucket=1")
    Files.createDirectories(fresh)
    Files.write(fresh.resolve("part-fresh.parquet"), "junk".getBytes)

    // default grace (24h): only the aged orphan goes
    assert(t.removeOrphanFiles() == 1)
    assert(!Files.exists(aged))
    assert(Files.exists(fresh.resolve("part-fresh.parquet")))

    // zero grace: the fresh orphan goes too; live + audit files survive
    assert(t.removeOrphanFiles(graceMs = 0L) == 1)
    assert(readTable(spark, t).map(x => (x.conv_id, x.turn_idx, x.text)).sorted == expected)
    assert(t.readAt(spark, oldV - 1).count() > 0, "time travel still readable")
    assert(t.readAudit(spark, "gate").count() == expected.size + 1,
      "audit-referenced files survive orphan removal")
    t.publishAudit("gate")
    assert(readTable(spark, t).exists(_.conv_id == "aud"))
    // steady state: nothing left to collect
    assert(t.removeOrphanFiles(graceMs = 0L) == 0)
  }

  test("removeOrphanFiles: negative grace disables; corrupt metadata aborts loudly, deletes nothing") {
    val dir = tmpDir("orphan-strict") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    CdcApply.applyBatch(spark, t,
      eventsDF(spark, Seq(ins(0L, "c1", 0, "a"))), epoch = Some(("q", 0L)))
    CdcApply.applyBatch(spark, t,
      eventsDF(spark, Seq(ins(1L, "c2", 0, "b"))), epoch = Some(("q", 1L)))
    val orphanDir = Files.createDirectories(Paths.get(dir, "data", "dead", "bucket=0"))
    val orphan = orphanDir.resolve("part-dead.parquet")
    Files.write(orphan, "junk".getBytes)

    // negative grace = disabled (the StreamConfig contract)
    assert(t.removeOrphanFiles(graceMs = -1L) == 0)
    assert(Files.exists(orphan))

    // a corrupt v-file in the readable chain: the sweep must abort LOUDLY
    // (a swallowed read would shrink the live set and delete live data),
    // and must delete nothing — including the genuine orphan
    val v2 = Paths.get(dir, "snap").resolve(f"v${2L}%010d.json")
    val orig = Files.readAllBytes(v2)
    Files.write(v2, "{ not json".getBytes)
    // fresh table handle: the first one's fold memo already holds v2's state
    val t2 = IceLite.load(dir)
    intercept[Exception](t2.removeOrphanFiles(graceMs = 0L))
    assert(Files.exists(orphan), "an aborted sweep must not have deleted anything")

    // repair the metadata: the sweep collects the orphan and only it
    Files.write(v2, orig)
    val t3 = IceLite.load(dir)
    assert(t3.removeOrphanFiles(graceMs = 0L) == 1)
    assert(!Files.exists(orphan))
    assert(t3.read(spark).count() == 2L)
  }
}
