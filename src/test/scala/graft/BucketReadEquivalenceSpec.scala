package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{ChangeEvent, MergeSpec}
import graft.operators.{CdcApply, MergeEngine}
import graft.table.{IceLite, MorRead}

/** Randomized differential check of the merge-on-read formulations
  * against the sequential oracle fold: for every bucket, at the current
  * version and at pinned earlier versions, the one-bucket read (in-task
  * merge), the multi-bucket read restricted to that bucket and the
  * oracle must hold the same rows — and so must multi-bucket reads of 2-
  * and 3-bucket subsets and of the whole table in both of their
  * placements (the small deltas folded in one task and broadcast, and
  * with broadcasts disabled the fold's exchange), point lookups (a missing
  * key included), the roll-forward of each pinned state over the change
  * feed to the next (`MorRead.foldState`, IncrementalView's after-state)
  * and the over-gate reads (in-task builds gated off, broadcasts
  * disabled).
  *
  * The logs mix series wipes, update-only keys (on base rows and on keys
  * that never existed), updates after a wipe and re-inserts after a wipe,
  * and a mid-run compaction puts base rows under later deltas — among
  * them a conversation that is then wiped and never touched again. Two
  * columns are added mid-run ([[DriftCols]]), so reads widen base files
  * and delta files written under older schemas. Equal rows on seeded
  * logs stand in for a proof of bag-semantics equivalence.
  *
  * A shared-file case replays the same kind of log as one-task epochs,
  * each of which writes one delta file listed under every bucket its
  * rows hash to, compacts only some buckets mid-run (the shared files
  * stay listed under the rest) and rebuckets the result; an event-log
  * case appends one-task batches and compacts the log bucket by bucket.
  */
class BucketReadEquivalenceSpec extends SparkSuite {
  import TestHelpers._

  private val NumBuckets = 4

  /** Columns added mid-run -> the first batch whose events carry them.
    * An event's value is `<column>:<its text>`.
    */
  private val DriftCols = Seq("sentiment" -> 1, "topic" -> 3)

  private type Row5 = (String, Int, String, Option[String], Option[String])

  private def randomLog(rnd: Random, from: Long, n: Int, convs: Int, turns: Int): Vector[ChangeEvent] =
    (0 until n).map { i =>
      val off = from + i
      val conv = f"c${rnd.nextInt(convs)}%02d"
      val t = rnd.nextInt(turns)
      rnd.nextInt(100) match {
        case r if r < 45 => ins(off, conv, t, s"ins-$off")
        case r if r < 70 => upd(off, conv, t, s"upd-$off")
        case r if r < 82 => ups(off, conv, t, s"ups-$off")
        case r if r < 93 => del(off, conv, Some(t))
        case _           => del(off, conv, None)
      }
    }.toVector

  /** Scripted tail: wipe a conversation, update it after the wipe, then
    * re-insert and update one turn; update a key that never existed.
    */
  private def wipeScript(from: Long, conv: String): Vector[ChangeEvent] = Vector(
    del(from, conv, None),
    upd(from + 1, conv, 0, s"after-wipe-${from + 1}"),
    ins(from + 2, conv, 1, s"reins-${from + 2}"),
    upd(from + 3, conv, 1, s"reupd-${from + 3}"),
    upd(from + 4, "c_ghost", 0, "never-existed"))

  /** `events` with the drift columns of batch `i` appended to `after`. */
  private def batchDF(events: Seq[ChangeEvent], i: Int): DataFrame = {
    val cols = DriftCols.collect { case (c, from) if from <= i => c }
    val df = eventsDF(spark, events)
    if (cols.isEmpty) df
    else df.withColumn("after", when(col("after").isNotNull, struct(col("after.*") +: cols.map(c =>
      // `when` without otherwise => nullable, as ALTER-ADD requires
      when(col("conv_id").isNotNull, concat(lit(s"$c:"), col("after.text"))).as(c)): _*)))
  }

  /** Key, text and drift columns (null where the schema lacks one). */
  private def rows(df: DataFrame): Seq[Row5] =
    df.select(Seq(col("conv_id"), col("turn_idx"), col("text")) ++ DriftCols.map { case (c, _) =>
      if (df.columns.contains(c)) col(c) else lit(null).cast("string").as(c)
    }: _*).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), Option(r.getString(3)), Option(r.getString(4))))
      .toSeq.sorted

  /** `df` as a one-partition RDD-backed batch: the one-task epoch, which
    * writes one delta file listed under every bucket its rows hash to.
    */
  private def oneTask(df: DataFrame): DataFrame = {
    val one = spark.createDataFrame(spark.sparkContext.parallelize(df.collect().toSeq, 1), df.schema)
    assert(MergeEngine.plansOneTask(one))
    one
  }

  /** Buckets listing each file of a snapshot's file map. */
  private def listings(m: Map[Int, Seq[String]]): Map[String, Set[Int]] =
    m.toSeq.flatMap { case (b, fs) => fs.map(_ -> b) }.groupMap(_._1)(_._2).map { case (f, bs) => f -> bs.toSet }

  /** With `shared`, every batch is a one-task epoch and the mid-run
    * compaction rewrites only the two most backlogged buckets, so the
    * shared delta files stay listed under the others; the final state is
    * then rebucketed.
    */
  private def runCase(seed: Long, shared: Boolean = false): Unit = {
    val rnd = new Random(seed)
    val batches: Vector[Vector[ChangeEvent]] = {
      // c_gone: base rows after the compaction, then only a wipe
      val first = randomLog(rnd, 0L, 150, 10, 4) ++ (0 until 3).map(i => ins(900L + i, "c_gone", i, s"gone-$i"))
      val second = randomLog(rnd, 1000L, 120, 10, 4)
      val third = randomLog(rnd, 2000L, 80, 10, 4) ++ wipeScript(3000L, f"c${rnd.nextInt(10)}%02d") :+
        del(3100L, "c_gone", None)
      val fourth = randomLog(rnd, 4000L, 60, 10, 4)
      Vector(first, second, third, fourth).map(rnd.shuffle(_))
    }
    val t = IceLite.create(tmpDir("bucket-read") + "/t", turnSchema, NumBuckets)
    val spec = MergeSpec(morCompactThreshold = 1000)
    // (version, batches applied as of it)
    val versions = batches.zipWithIndex.flatMap { case (b, i) =>
      val df = batchDF(b, i)
      CdcApply.applyBatch(spark, t, if (shared) oneTask(df) else df, spec = spec, epoch = Some(("eq", i.toLong)))
      val applied = t.currentVersion -> (i + 1)
      if (shared) {
        val added = listings(t.current.deltas).filter { case (f, _) => !listings(t.snapshot(applied._1 - 1).deltas).contains(f) }
        assert(added.size == 1 && added.head._2.size > 1, s"seed=$seed batch $i: one-task epoch added $added")
      }
      // base rows under the later batches' deltas
      if (i == 1) {
        val before = listings(t.current.deltas)
        assert(t.compactDeltas(spark, maxBuckets = if (shared) 2 else Int.MaxValue) > 0)
        if (shared) {
          val after = listings(t.current.deltas)
          assert(before.exists { case (f, bs) => after.get(f).exists(a => a.nonEmpty && a != bs) },
            s"seed=$seed: no shared delta file outlived the compaction of one of its buckets")
        }
        Seq(applied, t.currentVersion -> (i + 1))
      } else Seq(applied)
    }
    assert(t.dataFiles().nonEmpty && t.deltaFiles().nonEmpty, "case never mixed base and delta files")
    assert(DriftCols.forall(c => t.schema.fieldNames.contains(c._1)), t.schema.simpleString)

    val convs = (batches.flatten.map(_.conv_id) :+ "c_missing").distinct
    val bucketOf: Map[String, Int] = {
      import spark.implicits._
      convs.toDF("conv_id")
        .select(col("conv_id"), MergeEngine.bucketOf(col("conv_id"), NumBuckets))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    }
    // texts are unique per event: the batch an event came from fixes its drift columns
    val batchOfText: Map[String, Int] =
      batches.zipWithIndex.flatMap { case (b, i) => b.flatMap(_.after).map(_.text -> i) }.toMap
    def oracle(n: Int): Seq[Row5] = {
      def drift(c: String, text: String) =
        DriftCols.collectFirst { case (`c`, from) if batchOfText(text) >= from => s"$c:$text" }
      OracleFold.rows(OracleFold.finalState(batches.take(n).flatten))
        .map(x => (x.conv_id, x.turn_idx, x.text, drift("sentiment", x.text), drift("topic", x.text)))
    }
    versions.foreach { case (v, n) =>
      val want = oracle(n)
      // both multi-bucket placements: these deltas are small, so they fold
      // in one task and are broadcast; with no broadcast the fold takes
      // its exchange on conv_id
      def multiReads(exchange: Boolean): Unit = {
        val clue = s"seed=$seed v$v ${if (exchange) "exchange" else "one-task fold"}"
        val all = t.readAt(spark, v)
        if (t.snapshot(v).deltas.values.exists(_.nonEmpty))
          assert(all.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning") == exchange,
            s"$clue: placement\n${all.queryExecution.executedPlan}")
        assert(rows(all) == want, s"$clue: whole-table read != oracle")
        Seq(Set(0, 1), Set(1, 3), Set(0, 1, 2), Set(1, 2, 3)).foreach { sub =>
          assert(rows(t.readAt(spark, v, Some(sub))) == want.filter(r => sub(bucketOf(r._1))),
            s"$clue: read of buckets $sub != oracle")
        }
        (0 until NumBuckets).foreach { b =>
          assert(rows(all.filter(MergeEngine.bucketOf(col("conv_id"), NumBuckets) === b)) ==
            want.filter(r => bucketOf(r._1) == b), s"$clue bucket=$b: multi-bucket read != oracle")
        }
      }
      multiReads(exchange = false)
      withBroadcastThreshold(spark, -1)(multiReads(exchange = true))
      (0 until NumBuckets).foreach { b =>
        assert(rows(t.readAt(spark, v, Some(Set(b)))) == want.filter(r => bucketOf(r._1) == b),
          s"seed=$seed v$v bucket=$b: one-bucket read != oracle")
      }
      // point lookups: a wiped-and-reinserted conv, random convs, a missing key
      val probe = (convs.filterNot(_ == "c_missing").sorted.take(3) :+ "c_ghost" :+ "c_missing").distinct
      probe.foreach { c =>
        val got = rows(t.readAt(spark, v, Some(Set(bucketOf(c)))).filter(col("conv_id") === c))
        assert(got == want.filter(_._1 == c), s"seed=$seed v$v lookup $c")
      }
    }
    // IncrementalView's roll-forward: the state at `from`, widened to the
    // schema at `to`, folded with the feed of (from, to]; both sides
    // checkpointed as the view checkpoints them
    def rolled(from: Long, to: Long): DataFrame = {
      val sch = org.apache.spark.sql.types.DataType.fromJson(t.snapshot(to).schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val before0 = t.readAt(spark, from)
      val before = before0.select(sch.fields.toSeq.map(f =>
        if (before0.columns.contains(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)): _*)
      val feed = t.readChanges(spark, from, to).localCheckpoint(false)
        .select(col("conv_id"), col("turn_idx"), col("action"), col("row"), col("_commit_version").as("seq"))
      MorRead.foldState(before.localCheckpoint(false), feed, sch)
    }
    (versions.sliding(2).toSeq :+ Seq(versions.head, versions.last)).foreach {
      case Seq((from, _), (to, n)) =>
        assert(rows(rolled(from, to)) == oracle(n), s"seed=$seed: foldState v$from -> v$to != oracle")
    }
    // over the in-task gate, and with no join broadcast anywhere
    val want = oracle(batches.size)
    assert(!want.exists(_._1 == "c_gone") && t.dataFiles().nonEmpty)
    withBroadcastThreshold(spark, -1) {
      assert(rows(MorRead.merged(spark, t.schema, t.readBase(spark), t.deltaScan())) == want,
        s"seed=$seed: multi-bucket read without broadcast != oracle")
      (0 until NumBuckets).foreach { b =>
        val got = rows(MorRead.mergedInBucket(spark, t.schema, t.readBase(spark, Some(Set(b))),
          t.deltaScan(Some(Set(b))), maxInTaskDeltaBytes = 0L))
        assert(got == want.filter(r => bucketOf(r._1) == b), s"seed=$seed bucket=$b: over-gate read != oracle")
      }
      assert(rows(rolled(versions.head._1, versions.last._1)) == want,
        s"seed=$seed: foldState without broadcast != oracle")
    }
    if (shared) {
      t.rebucket(spark, 3)
      assert(rows(t.read(spark)) == want, s"seed=$seed: rebucketed read != oracle")
      val newBucket: Map[String, Int] = {
        import spark.implicits._
        convs.toDF("conv_id").select(col("conv_id"), MergeEngine.bucketOf(col("conv_id"), 3))
          .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      }
      (0 until 3).foreach { b =>
        assert(rows(t.read(spark, Some(Set(b)))) == want.filter(r => newBucket(r._1) == b),
          s"seed=$seed bucket=$b of 3: rebucketed one-bucket read != oracle")
      }
    }
  }

  test("one-bucket read == multi-bucket read == oracle, per bucket and pinned version") {
    runCase(seed = 11)
    runCase(seed = 12)
  }

  test("shared epoch files: subset reads, partial compaction, feed fold, rebucket == oracle") {
    runCase(seed = 21, shared = true)
  }

  test("shared event-log files: subset reads and one-job log compaction keep every event once") {
    // conversations pinned to buckets, so each batch touches a chosen bucket set
    val convsOf: Map[Int, Seq[String]] = {
      import spark.implicits._
      (0 until 40).map(i => f"l$i%02d").toDF("conv_id")
        .select(col("conv_id"), MergeEngine.bucketOf(col("conv_id"), NumBuckets))
        .collect().toSeq.map(r => r.getInt(1) -> r.getString(0)).groupMap(_._1)(_._2)
    }
    // batches 0-2 touch every bucket, batch 3 only buckets 0 and 1
    val touched = Seq.fill(3)(0 until NumBuckets) :+ (0 until 2)
    val batches = touched.zipWithIndex.map { case (bs, i) =>
      bs.flatMap(b => convsOf(b).take(2)).zipWithIndex.map { case (c, j) =>
        ins(100L * i + j, c, i, s"log-$i-$j")
      }
    }
    val lt = IceLite.create(tmpDir("bucket-read-log") + "/log",
      graft.operators.EventLogApply.logSchema(turnSchema), NumBuckets)
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.operators.EventLogApply.appendBatch(spark, lt, oneTask(eventsDF(spark, b)), epoch = Some(("log", i.toLong)))
      val s = lt.current
      assert(listings(s.files).count { case (f, _) => !listings(lt.snapshot(s.version - 1).files).contains(f) } == 1,
        s"batch $i appended more than one file")
    }
    def logRows(df: DataFrame): Seq[(String, Long, String)] =
      df.select(col("conv_id"), col("_offset"), col("after.text")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq.sorted
    val all = batches.flatten.map(e => (e.conv_id, e.offset, e.after.get.text)).sorted
    val bucketOf = convsOf.toSeq.flatMap { case (b, cs) => cs.map(_ -> b) }.toMap
    def check(clue: String): Unit = {
      assert(logRows(lt.read(spark)) == all, s"$clue: whole log")
      Seq(Set(0), Set(2), Set(1, 3), Set(0, 1, 2)).foreach { sub =>
        assert(logRows(lt.read(spark, Some(sub))) == all.filter(r => sub(bucketOf(r._1))), s"$clue: buckets $sub")
      }
    }
    check("appended")
    // buckets 0 and 1 hold four files, 2 and 3 three: only 0 and 1 compact,
    // and the shared files stay listed under 2 and 3
    assert(lt.compact(spark, maxFilesPerBucket = 3) == 2)
    assert(lt.current.files.view.mapValues(_.size).toMap == Map(0 -> 1, 1 -> 1, 2 -> 3, 3 -> 3))
    check("buckets 0, 1 compacted")
    // the shared files, now listed only under 2 and 3, still hold rows of
    // 0 and 1 that their compacted files already carry
    assert(lt.compact(spark, maxFilesPerBucket = 2) == 2)
    assert(lt.current.files.values.forall(_.size == 1))
    check("every bucket compacted")
    assert(lt.readChanges(spark, 1L).count() == all.size.toLong)
  }

  test("oversized deltas fall back to planner-placed joins, same rows") {
    val t = IceLite.create(tmpDir("bucket-read-big") + "/t", turnSchema, 2)
    val log = randomLog(new Random(31), 0L, 200, 6, 4) ++ wipeScript(500L, "c01")
    val spec = MergeSpec(morCompactThreshold = 1000)
    log.grouped(70).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), spec = spec, epoch = Some(("big", i.toLong)))
      if (i == 0) assert(t.compactDeltas(spark) > 0)
    }
    val want = OracleFold.rows(OracleFold.finalState(log)).map(x => (x.conv_id, x.turn_idx, x.text, None, None))
    val perBucket = (0 until 2).map { b =>
      val base = t.readBase(spark, Some(Set(b)))
      val deltas = t.deltaScan(Some(Set(b)))
      assert(base.count() > 0 && deltas.paths.nonEmpty, s"bucket $b mixes no base and delta files")
      val inTask = rows(MorRead.mergedInBucket(spark, t.schema, base, deltas))
      val full = rows(MorRead.mergedInBucket(spark, t.schema, base, deltas,
        maxInTaskDeltaBytes = 0L))
      assert(inTask == full, s"bucket $b")
      inTask
    }
    assert(perBucket.flatten.sorted == want)
  }
}
