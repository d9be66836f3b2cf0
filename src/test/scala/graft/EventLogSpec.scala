package graft

import graft.model.Schemas
import graft.operators.EventLogApply
import graft.table.IceLite

/** Append-only event-log table (reference INSERT mode) + IceLite
  * maintenance (compaction, snapshot expiry).
  */
class EventLogSpec extends SparkSuite {
  import TestHelpers._

  test("append mode: every event becomes a row with lineage; epoch idempotent") {
    val dir = tmpDir("eventlog") + "/t"
    val t = IceLite.create(dir, EventLogApply.logSchema(Schemas.transcript), 8)
    val b1 = Seq(ins(0, "c1", 0, "v0"), ups(1, "c1", 0, "v1"), del(2, "c1", Some(0)))
    val b2 = Seq(ins(3, "c2", 1, "x"))
    val r1 = EventLogApply.appendBatch(spark, t, eventsDF(spark, b1), epoch = Some(("q", 0L)))
    val r2 = EventLogApply.appendBatch(spark, t, eventsDF(spark, b2), epoch = Some(("q", 1L)))
    assert(r1.rowsWritten == 3 && r2.rowsWritten == 1)

    // all 4 events present, append-only, with coordinates
    val rows = t.read(spark).orderBy("_offset").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[String]("op")).toSeq == Seq("insert", "upsert", "delete", "insert"))
    assert(rows.map(_.getAs[Long]("_offset")).toSeq == Seq(0L, 1L, 2L, 3L))

    // duplicate epoch delivery is a no-op
    val r3 = EventLogApply.appendBatch(spark, t, eventsDF(spark, b2), epoch = Some(("q", 1L)))
    assert(r3.skipped && t.read(spark).count() == 4)
  }

  test("compaction merges fragmented buckets, content unchanged") {
    val dir = tmpDir("compact") + "/t"
    val t = IceLite.create(dir, EventLogApply.logSchema(Schemas.transcript), 2)
    (0 until 6).foreach { i =>
      EventLogApply.appendBatch(spark, t,
        eventsDF(spark, Seq(ins(i.toLong, s"c$i", 0, s"v$i"))), epoch = Some(("q", i.toLong)))
    }
    val before = t.read(spark).orderBy("_offset").collect().map(_.toString).toSeq
    val fragmented = t.current.files.count(_._2.size > 1)
    assert(fragmented > 0, "expected fragmented buckets")
    val n = t.compact(spark, maxFilesPerBucket = 1)
    assert(n == fragmented)
    assert(t.current.files.forall(_._2.size == 1))
    val after = t.read(spark).orderBy("_offset").collect().map(_.toString).toSeq
    assert(after == before)
  }

  test("generational compaction folds only small files; prior-generation files untouched") {
    val dir = tmpDir("compact-gen") + "/t"
    val t = IceLite.create(dir, EventLogApply.logSchema(Schemas.transcript), 1)
    // generation 1: several epochs, fold them all into one big file
    (0 until 5).foreach { i =>
      EventLogApply.appendBatch(spark, t,
        eventsDF(spark, (0 until 20).map(j => ins((i * 20 + j).toLong, s"c$i-$j", 0, s"v$i-$j"))),
        epoch = Some(("g", i.toLong)))
    }
    assert(t.compact(spark, maxFilesPerBucket = 1) == 1)
    val gen1 = t.current.files(0)
    assert(gen1.size == 1)
    val gen1Size = java.nio.file.Files.size(java.nio.file.Paths.get(dir).resolve(gen1.head))

    // generation 2: more small epochs on top
    (5 until 10).foreach { i =>
      EventLogApply.appendBatch(spark, t,
        eventsDF(spark, Seq(ins((i * 100).toLong, s"cx$i", 0, s"w$i"))), epoch = Some(("g", i.toLong)))
    }
    val before = t.read(spark).orderBy("_offset").collect().map(_.toString).toSeq
    // fold ONLY files smaller than the gen-1 file: gen-1 must survive in
    // place (O(appended-since-last-run) cost, not O(log history))
    val n = t.compact(spark, maxFilesPerBucket = 1, onlySmallerThan = gen1Size)
    assert(n == 1)
    val files = t.current.files(0)
    assert(files.contains(gen1.head), "prior-generation file must not be rewritten")
    assert(files.size == 2, s"expected gen1 + one merged file, got $files")
    assert(t.read(spark).orderBy("_offset").collect().map(_.toString).toSeq == before)
  }

  test("expireSnapshots deletes old snapshots and orphaned data files only") {
    val dir = tmpDir("expire") + "/t"
    val t = IceLite.create(dir, TestHelpers.turnSchema, 4)
    // each batch is compacted right away, rewriting the bucket and
    // orphaning its previous files — the expiry behavior under test
    // (snapshots reference deltas cumulatively, so nothing orphans until
    // compaction)
    (0 until 4).foreach { i =>
      graft.operators.CdcApply.applyBatch(spark, t,
        eventsDF(spark, Seq(ins(i.toLong, "c1", i, s"v$i"))), epoch = Some(("q", i.toLong)),
        spec = graft.model.MergeSpec(morCompactThreshold = 1000))
      assert(t.compactDeltas(spark) == 1)
    }
    val rowsBefore = readTable(spark, t)
    val vBefore = t.currentVersion
    val (snapsDropped, filesDropped) = t.expireSnapshots(keepLast = 1)
    assert(snapsDropped == vBefore.toInt - 1)
    assert(filesDropped > 0)
    assert(t.currentVersion == vBefore)
    assert(readTable(spark, t) == rowsBefore) // surviving snapshot intact
    // all referenced files still exist
    t.dataFiles().foreach(p => assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p)), p))
  }
}
