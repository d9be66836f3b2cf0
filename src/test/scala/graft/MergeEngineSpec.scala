package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.model._
import graft.operators.{CdcApply, MergeEngine}
import graft.table.IceLite

/** Scenario pins from FIXTURES.md §3 / the reference test suite: the
  * distributed fold+merge must equal the sequential oracle fold.
  */
class MergeEngineSpec extends SparkSuite {
  import TestHelpers._

  private def check(batches: Seq[Seq[ChangeEvent]], clue: String): Unit = {
    val want = OracleFold.rows(OracleFold.finalState(batches.flatten))
    for (spec <- writeConfigs; shape <- batchShapes) {
      val got = engineReplay(spark, batches, spec = spec, shape = Some(shape))
      assert(got == want,
        s"[$clue / compact@${spec.morCompactThreshold}/${spec.foldAlignment}/${shape.name}] " +
          s"engine != oracle\nengine: $got\noracle: $want")
    }
  }

  test("upsert replay: last surviving version per key (JdbcDbWriterTest:1573-1770)") {
    val evs = Seq(
      ins(0, "cA", 1, "A v0"),
      ins(1, "cB", 1, "B v0"),
      del(2, "cA", Some(1)),
      ups(3, "cB", 1, "B v1"),
      ups(4, "cA", 1, "A v1"),
      ins(5, "cD", 7, "D v0"))
    check(Seq(evs), "one batch")
    check(evs.map(Seq(_)), "one event per batch")
  }

  test("in-batch ordering: tombstone then re-insert of same key survives (BufferedRecordsTest:122-175)") {
    check(Seq(Seq(ins(0, "c1", 0, "v0"), del(1, "c1", Some(0)), ins(2, "c1", 0, "v2"))), "del-then-ins")
    check(Seq(Seq(ups(0, "c1", 0, "v0"), del(1, "c1", Some(0)))), "ups-then-del")
    check(Seq(Seq(del(0, "c1", Some(0)), ins(1, "c1", 0, "v1"))), "del-first")
  }

  test("series delete: conv tombstone kills all turns; later insert survives (README:126-137)") {
    val evs = Seq(
      ins(0, "c1", 0, "t0"), ins(1, "c1", 1, "t1"), ins(2, "c2", 0, "other"),
      del(3, "c1", None),
      ins(4, "c1", 5, "reborn"))
    check(Seq(evs), "one batch")
    check(Seq(evs.take(3), evs.drop(3)), "wipe in second batch")
  }

  test("series delete: update after wipe is dropped even against base rows") {
    val b1 = Seq(ins(0, "c1", 0, "t0"), ins(1, "c1", 1, "t1"))
    val b2 = Seq(del(2, "c1", None), upd(3, "c1", 0, "must-not-appear"))
    check(Seq(b1, b2), "cross-batch wipe+update")
    check(Seq(b1 ++ b2), "same-batch wipe+update")
  }

  test("update mode: unmatched updates dropped, matched replace (JdbcDbWriterTest:2189-2413)") {
    check(Seq(Seq(upd(0, "c1", 0, "ghost"))), "update nothing")
    check(Seq(Seq(ins(0, "c1", 0, "v0"), upd(1, "c1", 0, "v1"))), "in-batch match")
    check(Seq(Seq(ins(0, "c1", 0, "v0")), Seq(upd(1, "c1", 0, "v1"), upd(2, "c2", 9, "ghost"))), "cross-batch match")
    check(Seq(Seq(ins(0, "c1", 0, "v0")), Seq(del(1, "c1", Some(0)), upd(2, "c1", 0, "ghost"))), "update after delete")
  }

  test("duplicate delivery is idempotent (at-least-once contract)") {
    val evs = Seq(ins(0, "c1", 0, "v0"), ups(1, "c1", 0, "v1"), del(2, "c2", Some(0)))
    check(Seq(evs ++ evs), "row-level duplicates")
    check(Seq(evs, evs), "re-delivered batch without epoch") // fold idempotent even without epoch skip
  }

  test("out-of-order arrival: offset order wins, not arrival order") {
    val evs = Seq(
      ins(5, "c1", 0, "late-insert"),
      del(3, "c1", Some(0)),
      ins(0, "c1", 0, "v0"),
      upd(7, "c1", 0, "final"))
    check(Seq(evs), "scrambled single batch")
  }

  test("invalid records quarantined, rest of batch applied (RecordValidator semantics)") {
    val bad1 = ChangeEvent(0, 10, ts(10), "insert", null, Some(1), Some(turn("cX", 1, "x", 10)), 2)
    val bad2 = ChangeEvent(0, 11, ts(11), "insert", "cY", Some(1), None, 2)
    val bad3 = ChangeEvent(0, 12, ts(12), "insert", "cZ", None, Some(turn("cZ", 1, "x", 12)), 2)
    val good = ins(13, "cOK", 1, "fine")
    val dir = tmpDir("merge-invalid")
    val table = IceLite.create(s"$dir/t", turnSchema, 8)
    val res = CdcApply.applyBatch(spark, table, eventsDF(spark, Seq(bad1, bad2, bad3, good)),
      rejectedDir = Some(s"$dir/rejected"))
    assert(res.rejected == 3)
    assert(res.rowsWritten == 1)
    val rej = spark.read.parquet(s"$dir/rejected")
    assert(rej.count() == 3)
    assert(rej.columns.contains("_error") && rej.columns.contains("offset"))
    val got = readTable(spark, table)
    assert(got.map(_.text) == Seq("fine"))
  }

  test("all-reject, all-wipe and empty batches: exact rejected count and oracle state in both batch shapes") {
    val seed = Seq(ins(0, "c1", 0, "a"), ins(1, "c1", 1, "b"), ins(2, "c2", 0, "c"))
    val allReject = Seq(
      ChangeEvent(0, 3, ts(3), "insert", null, Some(1), Some(turn("cX", 1, "x", 3)), 2),
      ChangeEvent(0, 4, ts(4), "insert", "cY", Some(1), None, 2))
    val allWipe = Seq(del(5, "c1", None), del(6, "c9", None))
    val want = OracleFold.rows(OracleFold.finalState(seed ++ allWipe))
    for (spec <- writeConfigs; shape <- batchShapes) {
      val clue = s"compact@${spec.morCompactThreshold}/${spec.foldAlignment}/${shape.name}"
      val dir = tmpDir("merge-degenerate")
      val table = IceLite.create(s"$dir/t", turnSchema, 8)
      Seq(seed -> 0L, allReject -> 2L, allWipe -> 0L, Seq.empty[ChangeEvent] -> 0L).foreach {
        case (b, rejected) =>
          val res = CdcApply.applyBatch(spark, table, batchOf(spark, b, shape),
            spec = spec, rejectedDir = Some(s"$dir/rejected"))
          assert(res.rejected == rejected, s"[$clue] batch of ${b.size}: rejected ${res.rejected}")
      }
      assert(spark.read.parquet(s"$dir/rejected").count() == 2L, clue)
      assert(readTable(spark, table) == want, clue)
    }
  }

  test("an epoch batch commits the rejected count of the quarantine it wrote, in both batch shapes") {
    val bad = (0 until 5).map(i => ChangeEvent(0, 20L + i, ts(20L + i), "insert", s"cB$i", Some(1), None, 2))
    val good = (0 until 6).map(i => ins(30L + i, s"cG$i", 0, s"ok$i"))
    for (shape <- batchShapes) {
      val dir = tmpDir("merge-rejected")
      val table = IceLite.create(s"$dir/t", turnSchema, 8)
      Seq(0L -> (bad ++ good), 1L -> good.take(2), 2L -> bad.take(3)).foreach { case (epoch, b) =>
        val res = CdcApply.applyBatch(spark, table, batchOf(spark, b, shape),
          epoch = Some(("rej", epoch)), rejectedDir = Some(s"$dir/rejected"))
        val quarantined = spark.read.parquet(s"$dir/rejected")
          .filter(col("_rejected_at_epoch") === epoch).count()
        assert(table.current.metrics("rejected") == quarantined && res.rejected == quarantined,
          s"${shape.name} epoch $epoch: committed ${table.current.metrics("rejected")}, quarantined $quarantined")
      }
      assert(table.versions.map(table.snapshot).flatMap(_.metrics.get("rejected")).sum == 8L, shape.name)
    }
  }

  test("net actions shape: one row per touched key, correct action kinds") {
    val evs = Seq(
      ins(0, "c1", 0, "a"), upd(1, "c1", 0, "b"),      // Put(b)
      upd(2, "c2", 0, "cond"),                          // UpdateIfExists
      ins(3, "c3", 0, "x"), del(4, "c3", Some(0)),      // Del
      del(5, "c4", None), upd(6, "c4", 1, "ghost"))     // Del (wiped ⇒ known-absent) + c4's Wipe
    val rows = MergeEngine.netActions(eventsDF(spark, evs)).collect()
    val acts = rows.map(r => (r.getString(0), Option(r.getAs[Integer](1)).map(_.intValue)) -> r.getString(2)).toMap
    assert(acts(("c1", Some(0))) == NetAction.Put)
    assert(acts(("c2", Some(0))) == NetAction.UpdateIfExists)
    assert(acts(("c3", Some(0))) == NetAction.Del)
    assert(acts(("c4", Some(1))) == NetAction.Del)
    assert(acts(("c4", None)) == NetAction.Wipe)
    assert(rows.length == 5, rows.mkString("\n"))
  }
}

object TestHelpers {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types.StructType

  val turnSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("conv_id", StringType),
      StructField("turn_idx", IntegerType),
      StructField("role", StringType),
      StructField("text", StringType),
      StructField("tool", StringType),
      StructField("ts", TimestampType)))
  }

  def ts(off: Long): Timestamp = new Timestamp(1700000000000L + off * 1000)

  def turn(conv: String, t: Int, text: String, off: Long): TranscriptTurn =
    TranscriptTurn(conv, t, "user", text, null, ts(off))

  def ins(off: Long, conv: String, t: Int, text: String, part: Int = 0): ChangeEvent =
    ChangeEvent(part, off, ts(off), "insert", conv, Some(t), Some(turn(conv, t, text, off)), 2)
  def ups(off: Long, conv: String, t: Int, text: String, part: Int = 0): ChangeEvent =
    ChangeEvent(part, off, ts(off), "upsert", conv, Some(t), Some(turn(conv, t, text, off)), 2)
  def upd(off: Long, conv: String, t: Int, text: String, part: Int = 0): ChangeEvent =
    ChangeEvent(part, off, ts(off), "update", conv, Some(t), Some(turn(conv, t, text, off)), 2)
  def del(off: Long, conv: String, t: Option[Int], part: Int = 0): ChangeEvent =
    ChangeEvent(part, off, ts(off), "delete", conv, t, None, 2)

  def eventsDF(spark: SparkSession, events: Seq[ChangeEvent]): DataFrame = {
    import spark.implicits._
    spark.createDataset(events).toDF()
  }

  def readTable(spark: SparkSession, table: graft.table.IceLiteTable): Seq[TranscriptTurn] = {
    import spark.implicits._
    table.read(spark).as[TranscriptTurn].collect().toSeq.sortBy(t => (t.conv_id, t.turn_idx))
  }

  /** A batch's partitioning: an RDD-backed batch of `slices` partitions,
    * the shape of a streaming micro-batch. One slice takes the one-task
    * epoch (no exchange), more take the exchange plan.
    */
  final case class BatchShape(name: String, slices: Int)

  /** Both epoch plans: every write config must hold in each. */
  val batchShapes: Seq[BatchShape] = Seq(BatchShape("one-task", 1), BatchShape("multi-task", 3))

  /** `events` as a batch of `shape`, checked to take the plan it names. */
  def batchOf(spark: SparkSession, events: Seq[ChangeEvent], shape: BatchShape): DataFrame = {
    val local = eventsDF(spark, events)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(local.collect().toSeq, shape.slices), local.schema)
    assert(MergeEngine.plansOneTask(df) == (shape.slices == 1), s"${shape.name} batch plans the other path")
    df
  }

  /** `body` with both size-based broadcast thresholds, static and
    * adaptive, set to `bytes` (-1 disables them), then restored.
    */
  def withBroadcastThreshold[T](spark: SparkSession, bytes: Long)(body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, bytes.toString))
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Full-stack replay: create a fresh IceLite table, apply each batch via
    * CdcApply, read back sorted rows. Without a `shape` the batches are
    * local relations, one partition per event up to the core count.
    */
  def engineReplay(
      spark: SparkSession,
      batches: Seq[Seq[ChangeEvent]],
      numBuckets: Int = 8,
      spec: MergeSpec = MergeSpec(),
      shape: Option[BatchShape] = None): Seq[TranscriptTurn] = {
    val dir = java.nio.file.Files.createTempDirectory("engine-replay").toString
    val table = IceLite.create(s"$dir/t", turnSchema, numBuckets)
    batches.foreach { b =>
      val df = shape.fold(eventsDF(spark, b))(batchOf(spark, b, _))
      CdcApply.applyBatch(spark, table, df, spec = spec)
    }
    readTable(spark, table)
  }

  /** Write configurations that must each produce the oracle state. */
  val writeConfigs: Seq[MergeSpec] = Seq(
    MergeSpec(), // key-aligned fold
    // aggressive compaction: exercise the delta→base fold mid-replay
    // (its auto budget covers every bucket: the read-optimized setting)
    MergeSpec(morCompactThreshold = 1),
    // bucket-aligned fold: the single-exchange plan stays oracle-true
    MergeSpec(foldAlignment = "bucket"))
}
