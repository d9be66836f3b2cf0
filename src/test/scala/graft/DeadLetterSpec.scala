package graft

import org.apache.spark.sql.functions._

import graft.model.{ChangeEvent, MergeSpec}
import graft.operators.{CdcApply, DeadLetter}
import graft.table.IceLite

/** Dead-letter replay (B14): quarantine → fix → exactly-once re-apply →
  * archive, including partial heals (re-quarantined to the requeue store),
  * redelivered-replay idempotence, and the empty-store no-op.
  */
class DeadLetterSpec extends SparkSuite {
  import TestHelpers._

  /** An insert whose ENVELOPE key field is null but whose payload still
    * carries the turn — the realistic fixable reject (the fix recovers
    * the key from the value, FieldsMetadata-style).
    */
  private def brokenIns(off: Long, conv: String, t: Int, text: String): ChangeEvent =
    ChangeEvent(0, off, ts(off), "insert", conv, None, Some(turn(conv, t, text, off)), 2)

  /** An unfixable reject: unknown op (the fix below does not touch it). */
  private def bogusOp(off: Long, conv: String, t: Int): ChangeEvent =
    ChangeEvent(0, off, ts(off), "bogus", conv, Some(t), Some(turn(conv, t, s"x-$off", off)), 2)

  private val keyFix: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    df => df.withColumn("turn_idx", coalesce(col("turn_idx"), col("after.turn_idx")))

  test("quarantine -> fix -> replay heals all; consumed partitions archived") {
    val base = tmpDir("dlq-heal")
    val t0 = IceLite.create(s"$base/t", turnSchema, 4)
    val rej = s"$base/rejected"
    val spec = MergeSpec()
    val good = Seq(ins(0L, "c1", 0, "a"), ins(1L, "c1", 1, "b"))
    val bad = Seq(brokenIns(2L, "c2", 0, "healme"), brokenIns(3L, "c3", 5, "metoo"))
    val r0 = CdcApply.applyBatch(spark, t0, eventsDF(spark, good ++ bad), spec,
      epoch = Some(("ing", 0L)), rejectedDir = Some(rej))
    assert(r0.rejected == 2L)
    assert(t0.read(spark).count() == 2L)

    val res = DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 0L), spec = spec)(keyFix)
    assert(res.consumed == 2L && res.healed == 2L && res.requeued == 0L)
    assert(res.archivedPartitions == 1)
    assert(t0.read(spark).count() == 4L)
    val healed = t0.read(spark).filter(col("conv_id") === "c2").collect()
    assert(healed.length == 1 && healed.head.getAs[String]("text") == "healme")
    // the store is drained: a second replay is a no-op
    val again = DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 1L), spec = spec)(keyFix)
    assert(again.batch.isEmpty && again.consumed == 0L)
  }

  test("requeueDir == source dir is rejected loudly (epoch-number collision would archive requeued rows)") {
    val base = tmpDir("dlq-samedir")
    val t0 = IceLite.create(s"$base/t", turnSchema, 4)
    val rej = s"$base/rejected"
    val spec = MergeSpec()
    CdcApply.applyBatch(spark, t0, eventsDF(spark, Seq(brokenIns(0L, "c2", 0, "x"))), spec,
      epoch = Some(("ing", 0L)), rejectedDir = Some(rej))
    val e = intercept[IllegalArgumentException] {
      // `rej/.` normalizes to `rej` — the guard must see through path spelling
      DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 0L), spec = spec,
        requeueDir = Some(s"$rej/."))(keyFix)
    }
    assert(e.getMessage.contains("requeueDir must differ"))
    // nothing consumed or archived: the store is intact for a correct retry
    assert(DeadLetter.read(spark, rej).get.count() == 1L)
  }

  test("partial heal: unfixable rows land in the requeue store with the replay epoch") {
    val base = tmpDir("dlq-partial")
    val t0 = IceLite.create(s"$base/t", turnSchema, 4)
    val rej = s"$base/rejected"
    val spec = MergeSpec()
    val events = Seq(ins(0L, "c1", 0, "a"), brokenIns(1L, "c2", 0, "fixable"), bogusOp(2L, "c9", 1))
    CdcApply.applyBatch(spark, t0, eventsDF(spark, events), spec,
      epoch = Some(("ing", 0L)), rejectedDir = Some(rej))

    val res = DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 7L), spec = spec)(keyFix)
    assert(res.consumed == 2L && res.healed == 1L && res.requeued == 1L)
    val rq = DeadLetter.read(spark, s"$rej.requeue").get.collect()
    assert(rq.length == 1)
    assert(rq.head.getAs[String]("_error") == "unknown op")
    assert(rq.head.getAs[Number]("_rejected_at_epoch").longValue == 7L)
    // healed row is live; bogus op never reached the table
    assert(t0.read(spark).count() == 2L)
  }

  test("crash window: rerun of the same replay epoch skips the apply but still archives") {
    val base = tmpDir("dlq-crash")
    val t0 = IceLite.create(s"$base/t", turnSchema, 4)
    val rej = s"$base/rejected"
    val spec = MergeSpec()
    CdcApply.applyBatch(spark, t0,
      eventsDF(spark, Seq(ins(0L, "c1", 0, "a"), brokenIns(1L, "c2", 0, "heal"))), spec,
      epoch = Some(("ing", 0L)), rejectedDir = Some(rej))

    // first replay commits but "crashes" before archiving
    val r1 = DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 0L), spec = spec,
      archive = false)(keyFix)
    assert(r1.batch.exists(!_.skipped) && r1.archivedPartitions == 0)
    assert(t0.read(spark).count() == 2L)
    // rerun: exactly-once skip, no duplicate rows, archive completes
    val r2 = DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 0L), spec = spec)(keyFix)
    assert(r2.batch.exists(_.skipped))
    assert(r2.archivedPartitions == 1)
    assert(t0.read(spark).count() == 2L)
    assert(DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 1L), spec = spec)(keyFix).consumed == 0L)
  }

  test("crash window + new rejects: the skip-path archive is scoped to the COMMITTED set") {
    val base = tmpDir("dlq-crash-new")
    val t0 = IceLite.create(s"$base/t", turnSchema, 4)
    val rej = s"$base/rejected"
    val spec = MergeSpec()
    CdcApply.applyBatch(spark, t0,
      eventsDF(spark, Seq(ins(0L, "c1", 0, "a"), brokenIns(1L, "c2", 0, "heal"))), spec,
      epoch = Some(("ing", 0L)), rejectedDir = Some(rej))

    // replay commits but "crashes" before archiving ...
    val r1 = DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 0L), spec = spec,
      archive = false)(keyFix)
    assert(r1.batch.exists(!_.skipped))
    // ... and NEW rejects land in the store before the recovery re-run
    CdcApply.applyBatch(spark, t0,
      eventsDF(spark, Seq(brokenIns(2L, "c3", 0, "late"))), spec,
      epoch = Some(("ing", 1L)), rejectedDir = Some(rej))

    // recovery re-run of the SAME replay epoch: the apply skips, and the
    // archive must delete ONLY the partition the committed replay consumed
    // (_rejected_at_epoch=0) — NOT the new, never-applied partition 1
    val r2 = DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 0L), spec = spec)(keyFix)
    assert(r2.batch.exists(_.skipped))
    assert(r2.archivedPartitions == 1)
    assert(t0.read(spark).filter(col("conv_id") === "c3").count() == 0L)
    val left = DeadLetter.read(spark, rej).get
    assert(left.select("_rejected_at_epoch").distinct().collect()
      .map(_.get(0).toString.toLong).toSeq == Seq(1L))

    // the surviving rejects heal under a fresh replay epoch
    val r3 = DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 1L), spec = spec)(keyFix)
    assert(r3.healed == 1L && r3.archivedPartitions == 1)
    assert(t0.read(spark).filter(col("conv_id") === "c3").count() == 1L)

    // a stale re-delivery of the OLD replay epoch, with fresh rejects in
    // the store, archives nothing (its consumed record was superseded)
    CdcApply.applyBatch(spark, t0,
      eventsDF(spark, Seq(brokenIns(3L, "c4", 0, "later"))), spec,
      epoch = Some(("ing", 2L)), rejectedDir = Some(rej))
    val stale = DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 0L), spec = spec)(keyFix)
    assert(stale.batch.exists(_.skipped) && stale.archivedPartitions == 0)
    assert(DeadLetter.read(spark, rej).get.count() == 1L)
  }

  test("extraction rejects: fix must project `after` back to the source shape; replay re-extracts") {
    import graft.model.{ExtractField, PayloadSchema}
    val base = tmpDir("dlq-extract")
    val t0 = IceLite.create(s"$base/t", turnSchema, 4)
    val rej = s"$base/rejected"
    val spec = MergeSpec(payloadSchemas = Seq(
      PayloadSchema("chat", "$.msg", Seq(ExtractField("kind", "$.msg.kind")))))
    val mk = (off: Long, conv: String, text: String) =>
      ChangeEvent(0, off, ts(off), "insert", conv, Some(0), Some(turn(conv, 0, text, off)), 2)
    val events = Seq(
      mk(0L, "c1", """{"msg":{"kind":"greeting"}}"""),
      mk(1L, "c2", """{"other":true}""")) // matches no schema -> quarantined
    val r0 = CdcApply.applyBatch(spark, t0, eventsDF(spark, events), spec,
      epoch = Some(("ing", 0L)), rejectedDir = Some(rej))
    assert(r0.rejected == 1L)

    // a fix that does NOT strip the extracted field fails loudly on the
    // collision guard (never silently double-extracts)
    val boom = intercept[IllegalArgumentException] {
      DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 0L), spec = spec)(identity)
    }
    assert(boom.getMessage.contains("collide"))

    // the documented fix shape: project `after` to the source fields and
    // rewrite the payload into a matching schema
    val res = DeadLetter.replay(spark, t0, rej, epoch = ("dlq", 1L), spec = spec) { df =>
      df.withColumn("after", when(col("after").isNotNull, struct(
        col("after.conv_id").as("conv_id"), col("after.turn_idx").as("turn_idx"),
        col("after.role").as("role"),
        lit("""{"msg":{"kind":"recovered"}}""").as("text"),
        col("after.tool").as("tool"), col("after.ts").as("ts"))))
    }
    assert(res.healed == 1L && res.requeued == 0L)
    val kinds = t0.read(spark).select("conv_id", "kind").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kinds == Map("c1" -> "greeting", "c2" -> "recovered"))
  }

  test("missing store is a no-op") {
    val base = tmpDir("dlq-empty")
    val t0 = IceLite.create(s"$base/t", turnSchema, 4)
    val res = DeadLetter.replay(spark, t0, s"$base/nope", epoch = ("dlq", 0L))(identity)
    assert(res.batch.isEmpty && res.consumed == 0L && res.archivedPartitions == 0)
  }

  test("fully-archived store (dir exists, no parquet) reads as None; a corrupt store fails loudly") {
    val base = tmpDir("dlq-corrupt")
    val empty = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/archived"))
    assert(DeadLetter.read(spark, empty.toString).isEmpty)
    // a store with an unreadable file must NOT read as "no dead letters"
    val corrupt = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/corrupt/_rejected_at_epoch=0"))
    java.nio.file.Files.write(corrupt.resolve("part-00000.parquet"),
      "not a parquet file".getBytes)
    intercept[Exception] {
      DeadLetter.read(spark, s"$base/corrupt").foreach(_.count())
    }
  }
}
