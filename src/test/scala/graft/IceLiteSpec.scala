package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{CdcApply, MergeEngine}
import graft.table.IceLite

class IceLiteSpec extends SparkSuite {
  import TestHelpers._

  test("create/load/read empty table") {
    val dir = tmpDir("icelite") + "/t"
    val t = IceLite.create(dir, turnSchema, 8)
    assert(t.currentVersion == 1L)
    assert(t.read(spark).count() == 0)
    assert(IceLite.load(dir).schema == turnSchema)
  }

  test("commit CAS: losing writer retries on fresh parent, properties merge") {
    val dir = tmpDir("icelite-cas") + "/t"
    val t = IceLite.create(dir, turnSchema, 8)
    // two commits built from the same parent — second must land on v3 with
    // the first's property still present
    t.commit(p => p.copy(properties = p.properties + ("a" -> "1")))
    t.commit(p => p.copy(properties = p.properties + ("b" -> "2")))
    val cur = t.current
    assert(cur.version == 3L)
    assert(cur.properties == Map("a" -> "1", "b" -> "2"))
  }

  test("commit CAS: concurrent writers never lose an update") {
    val dir = tmpDir("icelite-race") + "/t"
    val t = IceLite.create(dir, turnSchema, 8)
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        (1 to 5).foreach { j =>
          new IceLiteTableRetry(dir).commitWithRetry(s"w$i-$j")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val props = t.current.properties
    assert(props.size == 20, s"lost updates: ${props.size}/20")
    assert(t.currentVersion == 21L)
  }

  test("snapshot json roundtrip") {
    val s = IceLite.Snapshot(7, 6, turnSchema.json, 16,
      Map(0 -> Seq("data/x/bucket=0/p1.parquet"), 3 -> Seq("a", "b")),
      Map("epoch:q" -> "5", "maxoff:0" -> "999"),
      Map("rowsWritten" -> 42L))
    val back = {
      val p = Files.createTempFile("snap", ".json")
      Files.writeString(p, IceLite.toJson(s))
      IceLite.readSnapshot(p)
    }
    assert(back == s)
  }

  test("diff snapshot log: metadata bytes per commit stay O(changes), not O(live files)") {
    val dir = tmpDir("icelite-diff") + "/t"
    val t = IceLite.create(dir, turnSchema, 8)
    // 200 MOR-style append commits: live file count grows 200x
    val sizes = (1 to 200).map { i =>
      t.commit { p =>
        val b = i % 8
        p.copy(
          deltas = p.deltas.updated(b, p.deltas.getOrElse(b, Seq.empty) :+ s"data/u$i/bucket=$b/f$i.parquet"),
          lastDeltaSeq = p.version + 1,
          properties = p.properties + ("epoch:s" -> i.toString),
          metrics = Map("rowsWritten" -> i.toLong))
      }
      Files.size(java.nio.file.Paths.get(dir, "snap", f"v${t.currentVersion}%010d.json"))
    }
    // per-commit metadata must stay flat while the referenced-file set grows
    val early = sizes.slice(10, 30).sum / 20.0
    val late = sizes.takeRight(20).sum / 20.0
    assert(late < early * 1.5, s"diff size grew with table size: early=$early late=$late")

    // a cold handle folds checkpoint + diffs to the writer's exact state
    val t2 = IceLite.load(dir)
    assert(t2.current == t.current)
    assert(t2.current.deltas.values.map(_.size).sum == 200)

    // expiry checkpoints the boundary so kept versions stay readable
    // without their expired ancestor diffs
    val (snaps, _) = t.expireSnapshots(keepLast = 5)
    assert(snaps == 196) // created v1 + 200 commits, keep last 5
    val t3 = IceLite.load(dir)
    assert(t3.current == t.current)
    val oldest = t.currentVersion - 4
    assert(t3.snapshot(oldest).version == oldest)
  }

  test("expiry crash window: gapped diff chain (partial v-file deletes) — next expiry recovers") {
    val dir = tmpDir("icelite-expirycrash") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    (1 to 20).foreach { i =>
      t.commit(p => p.copy(
        deltas = p.deltas.updated(i % 4, p.deltas.getOrElse(i % 4, Seq.empty) :+ s"data/x/f$i.parquet"),
        lastDeltaSeq = p.version + 1))
    }
    // simulate the ADVICE crash: a previous expireSnapshots(keepLast=5)
    // wrote its boundary checkpoint c17, then crashed after deleting only
    // v2..v9 — v10..v16 survive as diffs whose ancestors are gone, while
    // the stale c1 checkpoint still exists
    val boundaryV = t.currentVersion - 4 // 17
    Files.writeString(Paths.get(dir, "snap", f"c$boundaryV%010d.json"),
      IceLite.toJson(t.snapshot(boundaryV)))
    (2L to 9L).foreach(v => Files.delete(Paths.get(dir, "snap", f"v$v%010d.json")))
    // the table stays loadable (current folds from the boundary checkpoint)
    val t2 = IceLite.load(dir)
    assert(t2.current == t.current)
    // and the NEXT expiry must not die on the gapped chain (the old
    // implementation seeded at stale c1 and hit NoSuchFileException on v2)
    val (snaps, _) = t2.expireSnapshots(keepLast = 3)
    assert(snaps > 0)
    val t3 = IceLite.load(dir)
    assert(t3.current == t.current)
    t3.commit(p => p.copy(properties = p.properties + ("post" -> "ok"))) // still writable
    assert(IceLite.load(dir).current.properties("post") == "ok")
  }

  test("expiry after crash: kept versions below the fold seed are expired, not kept unreadable") {
    val dir = tmpDir("icelite-expiryseed") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    (1 to 20).foreach { i =>
      t.commit(p => p.copy(
        deltas = p.deltas.updated(i % 4, p.deltas.getOrElse(i % 4, Seq.empty) :+ s"data/x/g$i.parquet"),
        lastDeltaSeq = p.version + 1))
    }
    // crashed-previous-expiry state: boundary checkpoint c17 written,
    // v2..v9 deleted, stale c1 still present
    val boundaryV = t.currentVersion - 4 // 17
    Files.writeString(Paths.get(dir, "snap", f"c$boundaryV%010d.json"),
      IceLite.toJson(t.snapshot(boundaryV)))
    (2L to 9L).foreach(v => Files.delete(Paths.get(dir, "snap", f"v$v%010d.json")))
    // keepLast big enough to reach below the usable seed (c17): versions
    // 10..16 cannot be folded — they must be DROPPED, not kept broken
    val t2 = IceLite.load(dir)
    t2.expireSnapshots(keepLast = 8)
    (10L to 16L).foreach { v =>
      assert(!Files.exists(Paths.get(dir, "snap", f"v$v%010d.json")),
        s"unreadable v$v survived expiry")
    }
    val t3 = IceLite.load(dir)
    assert(t3.current == t.current)
    assert(t3.snapshot(18L).version == 18L) // kept-and-readable region intact
  }

  test("expireSnapshots clamps keepLast to >= 1 (0 would leave an unloadable table)") {
    val dir = tmpDir("icelite-keep0") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    (1 to 5).foreach(i => t.commit(p => p.copy(properties = p.properties + ("k" -> i.toString))))
    t.expireSnapshots(keepLast = 0)
    val t2 = IceLite.load(dir) // must not throw: the newest snapshot survives
    assert(t2.currentVersion == 6L)
    assert(t2.current.properties("k") == "5")
  }

  test("crash between create's v1 link and c1 checkpoint: table still readable (fold from empty)") {
    val dir = tmpDir("icelite-crashcreate") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    t.commit(p => p.copy(properties = p.properties + ("k" -> "v")))
    // simulate the crash window: the checkpoint never landed
    Files.delete(java.nio.file.Paths.get(dir, "snap", f"c${1L}%010d.json"))
    val t2 = IceLite.load(dir)
    assert(t2.current.properties("k") == "v")
    assert(t2.current.version == 2L)
    t2.commit(p => p.copy(properties = p.properties + ("k2" -> "v2"))) // still writable
    assert(IceLite.load(dir).current.properties("k2") == "v2")
  }

  test("tailing reader folds exactly ONE diff per new commit; writer reads are cache hits") {
    val dir = tmpDir("icelite-tail") + "/t"
    val writer = IceLite.create(dir, turnSchema, 4)
    val reader = IceLite.load(dir) // independent handle = the tailing driver
    reader.current // warm the reader's fold cache
    (1 to 40).foreach { i =>
      writer.commit(p => p.copy(
        deltas = p.deltas.updated(i % 4, p.deltas.getOrElse(i % 4, Seq.empty) :+ s"data/x/f$i.parquet"),
        lastDeltaSeq = p.version + 1))
      assert(writer.current eq writer.current) // cache-stable
      writer.current
      assert(writer.lastFoldSteps == 0, s"writer re-folded after its own commit $i")
      reader.current
      // ==1 between checkpoints; ==0 on the CheckpointEvery cadence (the
      // reader jumps to the fresher checkpoint instead of folding)
      assert(reader.lastFoldSteps <= 1,
        s"reader folded ${reader.lastFoldSteps} diffs at commit $i — per-epoch metadata cost not O(changes)")
    }
    assert(reader.current == writer.current)
  }

  test("schema evolution e2e: v1 files (no tool) readable after v2 batch adds tool") {
    import org.apache.spark.sql.types._
    val v1Schema = StructType(turnSchema.fields.filterNot(_.name == "tool"))
    val dir = tmpDir("icelite-evolve") + "/t"
    val t = IceLite.create(dir, v1Schema, 4)

    // batch 1: events whose after-struct has NO tool column
    val b1 = eventsDF(spark, Seq(ins(0, "c1", 0, "v1-row")))
      .withColumn("after", struct(
        col("after.conv_id"), col("after.turn_idx"), col("after.role"),
        col("after.text"), col("after.ts")))
    CdcApply.applyBatch(spark, t, b1)
    assert(t.schema.fieldNames.toSeq == v1Schema.fieldNames.toSeq)

    // batch 2: v2 events carry tool -> table schema evolves (ALTER ADD)
    val b2 = eventsDF(spark, Seq(
      ins(1, "c2", 0, "v2-row").copy(after = Some(turn("c2", 0, "v2-row", 1).copy(tool = "grep")))))
    CdcApply.applyBatch(spark, t, b2)
    assert(t.schema.fieldNames.contains("tool"))

    val rows = t.read(spark).orderBy("conv_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("tool") == null) // old file: ALTER-ADD null
    assert(rows(1).getAs[String]("tool") == "grep")
  }

  test("non-nullable add is rejected (DbStructure:174-184 semantics)") {
    import org.apache.spark.sql.types._
    val v1Schema = StructType(turnSchema.fields.filterNot(_.name == "tool"))
    val incoming = StructType(v1Schema.fields :+ StructField("strict_col", StringType, nullable = false))
    val res = graft.table.SchemaEvolution.merge(v1Schema, incoming)
    assert(res.isLeft && res.swap.toOption.get.contains("strict_col"))
  }

  test("bucket pruning reads only the target bucket's files (compacted base files)") {
    val dir = tmpDir("icelite-prune") + "/t"
    val t = IceLite.create(dir, turnSchema, 8)
    val evs = (0 until 64).map(i => ins(i.toLong, f"c$i%02d", 0, s"row$i"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, evs),
      spec = graft.model.MergeSpec(morCompactThreshold = 1000))
    t.compactDeltas(spark)
    assert(t.deltaFiles().isEmpty)
    val b = spark.range(1).select(MergeEngine.bucketOf(lit("c07"), 8)).collect()(0).getInt(0)
    val prunedFiles = t.dataFiles(Some(Set(b)))
    assert(prunedFiles.size < t.dataFiles().size)
    val got = t.read(spark, Some(Set(b))).filter(col("conv_id") === "c07").count()
    assert(got == 1)
  }

  test("bucket pruning reads only the target bucket's delta files (mor)") {
    val dir = tmpDir("icelite-prune-mor") + "/t"
    val t = IceLite.create(dir, turnSchema, 8)
    val evs = (0 until 64).map(i => ins(i.toLong, f"c$i%02d", 0, s"row$i"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, evs),
      spec = graft.model.MergeSpec(morCompactThreshold = 1000))
    assert(t.dataFiles().isEmpty, "mor apply must not rewrite base files")
    val b = spark.range(1).select(MergeEngine.bucketOf(lit("c07"), 8)).collect()(0).getInt(0)
    assert(t.deltaFiles(Some(Set(b))).size < t.deltaFiles().size)
    val got = t.read(spark, Some(Set(b))).filter(col("conv_id") === "c07").count()
    assert(got == 1)
  }

  test("epoch idempotence: re-delivered batch is a no-op, state unchanged") {
    val dir = tmpDir("icelite-epoch") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val b1 = Seq(ins(0, "c1", 0, "v0"))
    val b2 = Seq(ups(1, "c1", 0, "v1"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, b1), epoch = Some(("q", 0L)))
    CdcApply.applyBatch(spark, t, eventsDF(spark, b2), epoch = Some(("q", 1L)))
    val v = t.currentVersion
    // re-deliver both epochs
    val r1 = CdcApply.applyBatch(spark, t, eventsDF(spark, b1), epoch = Some(("q", 0L)))
    val r2 = CdcApply.applyBatch(spark, t, eventsDF(spark, b2), epoch = Some(("q", 1L)))
    assert(r1.skipped && r2.skipped)
    assert(t.currentVersion == v)
    assert(readTable(spark, t).map(_.text) == Seq("v1"))
  }

  test("time travel: readAt(version) returns the state as of that commit") {
    val dir = tmpDir("icelite-tt")
    val t = IceLite.create(s"$dir/t", TestHelpers.turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(
      ins(0L, "c1", 0, "first"), ins(1L, "c2", 0, "keep"))))
    val v1 = t.currentVersion
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(
      ups(2L, "c1", 0, "second"), del(3L, "c2", None))))

    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx", "text").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(x => (x._1, x._2)).toSeq

    assert(triples(t.readAt(spark, v1)) == Seq(("c1", 0, "first"), ("c2", 0, "keep")))
    assert(triples(t.read(spark)) == Seq(("c1", 0, "second")))
    assert(triples(t.readAt(spark, t.currentVersion)) == triples(t.read(spark)))
  }

  private def texts(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("text").collect().map(_.getString(0)).sorted.toSeq

  test("refs: tag/readAtTag/dropTag; re-tag repoints; bad names and versions rejected") {
    val dir = tmpDir("icelite-refs")
    val t = IceLite.create(s"$dir/t", TestHelpers.turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "a"))))
    val v1 = t.tag("run-1")
    assert(v1 == t.currentVersion && t.tags == Map("run-1" -> v1))
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ups(1L, "c1", 0, "b"))))
    assert(texts(t.readAtTag(spark, "run-1")) == Seq("a"))
    // re-tag repoints (git tag -f semantics)
    t.tag("run-1")
    assert(texts(t.readAtTag(spark, "run-1")) == Seq("b"))
    assert(t.dropTag("run-1") && t.tags.isEmpty && !t.dropTag("run-1"))
    intercept[IllegalArgumentException](t.tag("bad name"))
    intercept[IllegalArgumentException](t.tag("..")) // traversal + dot-namespace guard
    intercept[IllegalArgumentException](t.dropTag(".tmp-x"))
    intercept[Exception](t.tag("ghost", 999L))
    intercept[NoSuchElementException](t.readAtTag(spark, "nope"))
  }

  test("rollback: state returns to target, history preserved, epoch bookkeeping rolls back") {
    val dir = tmpDir("icelite-rb")
    val t = IceLite.create(s"$dir/t", TestHelpers.turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "good"))), epoch = Some(("q", 0L)))
    val goodV = t.currentVersion
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ups(1L, "c1", 0, "bad"))), epoch = Some(("q", 1L)))
    val badV = t.currentVersion
    val rb = t.rollback(goodV)
    assert(rb.version == badV + 1)
    assert(texts(t.read(spark)) == Seq("good"))
    // the bad version stays time-travelable until expiry
    assert(texts(t.readAt(spark, badV)) == Seq("bad"))
    // epoch high-water rolled back with the state: redelivering the bad
    // epoch APPLIES (and lands the fix), instead of being skipped
    val r = CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ups(1L, "c1", 0, "fixed"))), epoch = Some(("q", 1L)))
    assert(!r.skipped)
    assert(texts(t.read(spark)) == Seq("fixed"))
    // rolling back "above" current is rejected
    intercept[IllegalArgumentException](t.rollback(t.currentVersion + 5))
  }

  test("expiry pins tagged versions: tagged snapshot stays readable, untagged below expire") {
    val dir = tmpDir("icelite-refs-exp")
    val t = IceLite.create(s"$dir/t", TestHelpers.turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "v-old"))))
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(1L, "c2", 0, "tagged-state"))))
    val pinned = t.tag("pin")
    (2 to 5).foreach(i =>
      CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ups(i.toLong, "c1", 0, s"v$i")))))
    val (dropped, _) = t.expireSnapshots(keepLast = 1)
    assert(dropped > 0)
    // pinned version (and everything above it) survived, fully readable
    assert(texts(t.readAtTag(spark, "pin")) == Seq("tagged-state", "v-old"))
    // versions below the pin are gone
    intercept[Exception](t.readAt(spark, pinned - 1).collect())
    // dropping the tag releases the pin: next expiry reclaims it
    t.dropTag("pin")
    val (dropped2, _) = t.expireSnapshots(keepLast = 1)
    assert(dropped2 > 0)
    intercept[Exception](t.readAt(spark, pinned).collect())
    assert(texts(t.read(spark)) == Seq("tagged-state", "v5"))
  }

  test("tag detects a foreign concurrent expiry: ref un-published, loud failure") {
    // In-process tag-vs-expiry is serialized by the per-dir ref lock; the
    // cross-PROCESS window (an expiry elsewhere read its tag set before
    // this ref landed) is covered by tag()'s post-publish ON-DISK check —
    // the in-JVM snapshot memo would still answer for the version, so the
    // check must look at the files, not the memo. Simulate the foreign
    // expiry by removing the version's on-disk markers after warming the
    // memo.
    val dir = tmpDir("icelite-tag-race")
    val t = IceLite.create(s"$dir/t", TestHelpers.turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0L, "c1", 0, "a"))))
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ups(1L, "c1", 0, "b"))))
    val v = t.currentVersion
    assert(t.current.version == v) // warms the in-JVM snapshot memo at v
    import java.nio.file.{Files, Paths}
    Files.deleteIfExists(Paths.get(s"$dir/t/snap", f"v$v%010d.json"))
    Files.deleteIfExists(Paths.get(s"$dir/t/snap", f"c$v%010d.json"))
    val e = intercept[IllegalStateException](t.tag("orphan", v))
    assert(e.getMessage.contains("expired concurrently"), e.getMessage)
    assert(t.tags.isEmpty, "the dangling ref must be un-published")
  }
}

/** Test helper: commit with CAS-retry loop (IceLiteTable.commit throws on
  * contention after maxRetries; real writers catch and retry with backoff
  * — modeled here).
  */
final class IceLiteTableRetry(dir: String) {
  def commitWithRetry(key: String): Unit = {
    val t = new graft.table.IceLiteTable(dir)
    var done = false
    while (!done) {
      try { t.commit(p => p.copy(properties = p.properties + (key -> "1")), maxRetries = 0); done = true }
      catch { case _: IllegalStateException => Thread.sleep(1) }
    }
  }
}
