package graft

import org.apache.spark.sql.functions._

import graft.model.{MergeSpec, NetAction, Schemas}
import graft.operators.{CdcApply, EventLogApply}
import graft.table.{IceLite, MorRead}

/** Incremental change-data-feed reads (`IceLiteTable.readChanges`):
  * range scoping, commit-kind handling (MOR apply / append / compaction /
  * copy-on-write rewrites in older tables), and the defining property —
  * applying a range's feed onto the `from` snapshot reproduces the `to`
  * snapshot exactly.
  */
class ChangeFeedSpec extends SparkSuite {
  import TestHelpers._

  private val mor = MergeSpec(morCompactThreshold = 1000)

  private def feed(t: graft.table.IceLiteTable, from: Long, to: Long) =
    t.readChanges(spark, from, to).collect()
      .map(r => (r.getAs[Long]("_commit_version"), r.getAs[String]("conv_id"),
        Option(r.getAs[Integer]("turn_idx")).map(_.toInt), r.getAs[String]("action")))
      .toSeq.sorted

  test("mor feed: each range returns exactly its commits' net actions, stamped with the version") {
    val dir = tmpDir("cf-mor") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(
      ins(0, "c1", 0, "a"), ins(1, "c2", 0, "b"))), spec = mor, epoch = Some(("f", 0L)))
    val v2 = t.currentVersion
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(
      ups(2, "c1", 0, "a2"), del(3, "c2", Some(0)), del(4, "c3", None))), spec = mor,
      epoch = Some(("f", 1L)))
    val v3 = t.currentVersion
    assert(v2 == 2 && v3 == 3)

    assert(feed(t, 1, v2) == Seq(
      (2L, "c1", Some(0), NetAction.Put), (2L, "c2", Some(0), NetAction.Put)))
    assert(feed(t, v2, v3) == Seq(
      (3L, "c1", Some(0), NetAction.Put), // updated a key created in an earlier batch? no: upsert ⇒ put
      (3L, "c2", Some(0), NetAction.Del),
      (3L, "c3", None, NetAction.Wipe)))
    // full range = union of sub-ranges; empty range = empty feed
    assert(feed(t, 1, v3) == (feed(t, 1, v2) ++ feed(t, v2, v3)).sorted)
    assert(feed(t, v3, v3).isEmpty)
    // post-image rides along on row-carrying actions
    val img = t.readChanges(spark, v2, v3)
      .filter(col("action") === NetAction.Put).select("row.text").collect()
    assert(img.map(_.getString(0)).toSeq == Seq("a2"))
  }

  test("applying a range's feed onto readAt(from) reproduces readAt(to) — across compaction") {
    val dir = tmpDir("cf-equiv") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val rnd = new scala.util.Random(41)
    val log = (0 until 240).map { i =>
      val conv = f"c${rnd.nextInt(7)}%02d"
      rnd.nextInt(10) match {
        case r if r < 6 => ins(i.toLong, conv, rnd.nextInt(4), s"t-$i")
        case r if r < 8 => upd(i.toLong, conv, rnd.nextInt(4), s"u-$i")
        case 8          => del(i.toLong, conv, Some(rnd.nextInt(4)))
        case _          => del(i.toLong, conv, None)
      }
    }
    log.grouped(60).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), spec = mor, epoch = Some(("e", i.toLong)))
      if (i == 1) assert(t.compactDeltas(spark) > 0) // mid-range rewrite
    }
    val from = 3L // (v2 apply, v3 apply) before; feed covers compaction + 2 applies
    val to = t.currentVersion
    val p = tmpDir("cf-equiv-feed") + "/deltas"
    t.readChanges(spark, from, to)
      .select(col("conv_id"), col("turn_idx"), col("action"), col("row"),
        col("_commit_version").as("seq"))
      .write.parquet(p)
    val reconstructed = MorRead.merged(spark, t.schema, t.readAt(spark, from), graft.table.IceLite.BucketFiles(Seq(Seq(p) -> None)))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getAs[String]("text"))).toSeq.sorted
    val want = t.readAt(spark, to)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getAs[String]("text"))).toSeq.sorted
    assert(reconstructed == want && want.nonEmpty)
  }

  test("append-only table: feed rows are inserts stamped with their append version") {
    val dir = tmpDir("cf-log") + "/t"
    val t = IceLite.create(dir, EventLogApply.logSchema(Schemas.transcript), 4)
    EventLogApply.appendBatch(spark, t, eventsDF(spark, Seq(
      ins(0, "c1", 0, "x"), del(1, "c1", Some(0)))), epoch = Some(("l", 0L)))
    EventLogApply.appendBatch(spark, t, eventsDF(spark, Seq(
      ups(2, "c2", 1, "y"))), epoch = Some(("l", 1L)))
    val rows = t.readChanges(spark, 1).collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[String]("action") == NetAction.Put))
    assert(rows.map(r => (r.getAs[Long]("_commit_version"),
      r.getAs[org.apache.spark.sql.Row]("row").getAs[String]("op"))).toSeq.sorted ==
      Seq((2L, "delete"), (2L, "insert"), (3L, "upsert")))
    // the log's own compaction stays transparent to the feed
    if (t.compact(spark, maxFilesPerBucket = 1) > 0)
      assert(t.readChanges(spark, 1).count() == 3)
  }

  test("feed across schema drift: pre-drift deltas widen with nulls under the range-end schema") {
    val dir = tmpDir("cf-drift") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0, "c1", 0, "old"))),
      spec = mor, epoch = Some(("d", 0L)))
    val drifted = eventsDF(spark, Seq(ins(1, "c2", 0, "new")))
      .withColumn("after", when(col("after").isNotNull,
        struct(col("after.*"), when(col("conv_id").isNotNull, lit("pos")).as("sentiment"))))
    CdcApply.applyBatch(spark, t, drifted, spec = mor, epoch = Some(("d", 1L)))
    val rows = t.readChanges(spark, 1).select("conv_id", "row.text", "row.sentiment").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSeq.sorted
    assert(rows == Seq(("c1", "old", None), ("c2", "new", Some("pos"))))
    // mirroring the drifting range evolves the target's schema too
    val dst = graft.table.IceLite.create(tmpDir("cf-drift-dst") + "/t", turnSchema, 4)
    operators.Mirror.sync(spark, t, dst, mor, toVersion = 2L) // bootstrap pre-drift
    operators.Mirror.sync(spark, t, dst, mor)                 // incremental across the drift
    assert(dst.schema.fieldNames.contains("sentiment"))
    val st = dst.read(spark).select("conv_id", "text", "sentiment").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSeq.sorted
    assert(st == Seq(("c1", "old", None), ("c2", "new", Some("pos"))))
  }

  test("copy-on-write commits are not feed-readable and fail loudly") {
    val dir = tmpDir("cf-cow") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0, "c1", 0, "a"))),
      spec = mor, epoch = Some(("c", 0L)))
    assert(t.compactDeltas(spark) == 1)
    val from = t.currentVersion
    // a copy-on-write commit as a table written before merge-on-read
    // became the only apply path holds one: the bucket's base file is
    // replaced by a rewritten copy, and the batch's change rows are gone
    val (b, Seq(old)) = t.current.files.head
    val rewritten = t.newStageDir().resolve(s"bucket=$b/part-cow.parquet")
    java.nio.file.Files.createDirectories(rewritten.getParent)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/$old"), rewritten)
    val rel = java.nio.file.Paths.get(dir).relativize(rewritten).toString
    t.commit(p => p.copy(files = p.files + (b -> Seq(rel)), metrics = Map("bucketsRewritten" -> 1L)))
    assert(readTable(spark, t).map(_.text) == Seq("a"))
    val e = intercept[UnsupportedOperationException](t.readChanges(spark, from).collect())
    assert(e.getMessage.contains("copy-on-write"))
  }
}
