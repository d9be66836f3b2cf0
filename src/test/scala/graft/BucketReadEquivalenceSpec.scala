package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{ChangeEvent, MergeSpec}
import graft.operators.{CdcApply, MergeEngine}
import graft.table.IceLite

/** Randomized equivalence of the two merge-on-read plan shapes: for every
  * bucket, at the current version and at pinned earlier versions, the
  * one-bucket read (in-task merge), the multi-bucket read restricted to
  * that bucket (two-pass broadcast merge) and the sequential oracle fold
  * must hold the same rows — and so must multi-bucket reads of 2- and
  * 3-bucket subsets and of the whole table, point lookups (a missing key
  * included) and the full-fold fallback of the multi-bucket read.
  *
  * The logs mix series wipes, update-only keys (on base rows and on keys
  * that never existed), updates after a wipe and re-inserts after a wipe,
  * and a mid-run compaction puts base rows under later deltas — among
  * them a conversation that is then wiped and never touched again.
  */
class BucketReadEquivalenceSpec extends SparkSuite {
  import TestHelpers._

  private val NumBuckets = 4

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

  private def rows(df: DataFrame): Seq[(String, Int, String)] =
    df.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted

  private def runCase(seed: Long): Unit = {
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
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), spec = spec, epoch = Some(("eq", i.toLong)))
      val applied = t.currentVersion -> (i + 1)
      // base rows under the later batches' deltas
      if (i == 1) {
        assert(t.compactDeltas(spark) > 0)
        Seq(applied, t.currentVersion -> (i + 1))
      } else Seq(applied)
    }
    assert(t.dataFiles().nonEmpty && t.deltaFiles().nonEmpty, "case never mixed base and delta files")

    val convs = (batches.flatten.map(_.conv_id) :+ "c_missing").distinct
    val bucketOf: Map[String, Int] = {
      import spark.implicits._
      convs.toDF("conv_id")
        .select(col("conv_id"), MergeEngine.bucketOf(col("conv_id"), NumBuckets))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    }
    versions.foreach { case (v, n) =>
      val want = OracleFold.rows(OracleFold.finalState(batches.take(n).flatten))
        .map(x => (x.conv_id, x.turn_idx, x.text))
      val all = t.readAt(spark, v)
      assert(rows(all) == want, s"seed=$seed v$v: whole-table read != oracle")
      Seq(Set(0, 1), Set(1, 3), Set(0, 1, 2), Set(1, 2, 3)).foreach { sub =>
        assert(rows(t.readAt(spark, v, Some(sub))) == want.filter(r => sub(bucketOf(r._1))),
          s"seed=$seed v$v: read of buckets $sub != oracle")
      }
      (0 until NumBuckets).foreach { b =>
        val clue = s"seed=$seed v$v bucket=$b"
        val oracle = want.filter(r => bucketOf(r._1) == b)
        val one = rows(t.readAt(spark, v, Some(Set(b))))
        val multi = rows(all.filter(MergeEngine.bucketOf(col("conv_id"), NumBuckets) === b))
        assert(one == oracle, s"$clue: one-bucket read != oracle")
        assert(multi == oracle, s"$clue: multi-bucket read != oracle")
      }
      // point lookups: a wiped-and-reinserted conv, random convs, a missing key
      val probe = (convs.filterNot(_ == "c_missing").sorted.take(3) :+ "c_ghost" :+ "c_missing").distinct
      probe.foreach { c =>
        val got = rows(t.readAt(spark, v, Some(Set(bucketOf(c)))).filter(col("conv_id") === c))
        assert(got == want.filter(_._1 == c), s"seed=$seed v$v lookup $c")
      }
    }
    assert(!rows(t.read(spark)).exists(_._1 == "c_gone") && t.dataFiles().nonEmpty)
    val fallback = graft.table.MorRead.merged(spark, t.schema, t.readBase(spark), t.deltaFiles(),
      maxPrunedDeltaBytes = 0L)
    assert(rows(fallback) == OracleFold.rows(OracleFold.finalState(batches.flatten))
      .map(x => (x.conv_id, x.turn_idx, x.text)), s"seed=$seed: full-fold fallback != oracle")
  }

  test("one-bucket read == multi-bucket read == oracle, per bucket and pinned version") {
    runCase(seed = 11)
    runCase(seed = 12)
  }

  test("oversized deltas fall back to the full fold with the same rows") {
    val t = IceLite.create(tmpDir("bucket-read-big") + "/t", turnSchema, 2)
    val log = randomLog(new Random(31), 0L, 200, 6, 4) ++ wipeScript(500L, "c01")
    val spec = MergeSpec(morCompactThreshold = 1000)
    log.grouped(70).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatch(spark, t, eventsDF(spark, b), spec = spec, epoch = Some(("big", i.toLong)))
      if (i == 0) assert(t.compactDeltas(spark) > 0)
    }
    val want = OracleFold.rows(OracleFold.finalState(log)).map(x => (x.conv_id, x.turn_idx, x.text))
    val perBucket = (0 until 2).map { b =>
      val base = t.readBase(spark, Some(Set(b)))
      val deltas = t.deltaFiles(Some(Set(b)))
      assert(base.count() > 0 && deltas.nonEmpty, s"bucket $b mixes no base and delta files")
      val inTask = rows(graft.table.MorRead.mergedInBucket(spark, t.schema, base, deltas))
      val full = rows(graft.table.MorRead.mergedInBucket(spark, t.schema, base, deltas,
        maxPrunedDeltaBytes = 0L))
      assert(inTask == full, s"bucket $b")
      inTask
    }
    assert(perBucket.flatten.sorted == want)
  }
}
