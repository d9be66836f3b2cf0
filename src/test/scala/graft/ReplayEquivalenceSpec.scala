package graft

import scala.util.Random

import graft.model.ChangeEvent

/** Randomized replay equivalence: for seeded random event logs —
  * mixed ops, hot keys, duplicates, shuffled arrival, random batch
  * splits, and at-least-once suffix re-delivery — the engine's final
  * table state must equal the sequential oracle fold row-for-row
  * (BASELINE.json invariant: per-turn text equality under stable
  * (conv_id, turn_idx) ordering).
  *
  * Delivery contract (matches Kafka/file-source semantics): batches
  * arrive as offset ranges in order; re-delivery is always a contiguous
  * suffix (restart from checkpoint), never an isolated stale event.
  */
class ReplayEquivalenceSpec extends SparkSuite {
  import TestHelpers._

  private def randomLog(rnd: Random, n: Int, convs: Int, turns: Int): Vector[ChangeEvent] =
    (0 until n).map { i =>
      val off = i.toLong
      val conv = f"c${rnd.nextInt(convs)}%03d"
      val t = rnd.nextInt(turns)
      rnd.nextInt(100) match {
        case r if r < 55 => ins(off, conv, t, s"ins-$off")
        case r if r < 70 => upd(off, conv, t, s"upd-$off")
        case r if r < 85 => ups(off, conv, t, s"ups-$off")
        case r if r < 96 => del(off, conv, Some(t))
        case _           => del(off, conv, None) // series delete
      }
    }.toVector

  private def runCase(seed: Long, n: Int, convs: Int, turns: Int, nBatches: Int): Unit = {
    val rnd = new Random(seed)
    val log = randomLog(rnd, n, convs, turns)

    // slice into offset-ordered batches, shuffle arrival within a batch,
    // and re-deliver a random suffix of the previous batch at the head of
    // the next one (at-least-once overlap).
    val size = (n + nBatches - 1) / nBatches
    val slices = log.grouped(size).toVector
    val batches = slices.zipWithIndex.map { case (s, i) =>
      val overlap =
        if (i == 0 || rnd.nextInt(2) == 0) Vector.empty
        else slices(i - 1).takeRight(rnd.nextInt(slices(i - 1).size) + 1)
      rnd.shuffle(overlap ++ s)
    }

    val want = OracleFold.rows(OracleFold.finalState(log))
    for (spec <- writeConfigs; shape <- batchShapes) {
      val got = engineReplay(spark, batches.map(_.toSeq), spec = spec, shape = Some(shape))
      assert(
        got.map(t => (t.conv_id, t.turn_idx, t.text)) ==
          want.map(t => (t.conv_id, t.turn_idx, t.text)),
        s"seed=$seed n=$n convs=$convs turns=$turns batches=$nBatches " +
          s"config=compact@${spec.morCompactThreshold}/${spec.foldAlignment}/${shape.name}")
    }
  }

  test("random replay equals oracle (small, dense keyspace, 1 batch)") {
    runCase(seed = 101, n = 250, convs = 3, turns = 3, nBatches = 1)
    runCase(seed = 102, n = 250, convs = 3, turns = 3, nBatches = 1)
  }

  test("random replay equals oracle (multi-batch with suffix re-delivery)") {
    runCase(seed = 201, n = 300, convs = 4, turns = 4, nBatches = 3)
    runCase(seed = 202, n = 300, convs = 4, turns = 4, nBatches = 3)
    runCase(seed = 203, n = 400, convs = 2, turns = 2, nBatches = 4) // very dense: heavy key collisions
  }

  test("random replay equals oracle (wider keyspace, hot conv)") {
    // prepend a hot conversation holding a large share of events
    val rnd = new Random(301)
    val base = randomLog(rnd, 600, 20, 6)
    val hot = base.map(e =>
      if (rnd.nextInt(4) == 0) e.copy(conv_id = "c_hot",
        after = e.after.map(_.copy(conv_id = "c_hot")))
      else e)
    val batches = hot.grouped(200).map(b => new Random(b.head.offset).shuffle(b).toSeq).toSeq
    val got = engineReplay(spark, batches)
    val want = OracleFold.rows(OracleFold.finalState(hot))
    assert(got.map(t => (t.conv_id, t.turn_idx, t.text)) ==
      want.map(t => (t.conv_id, t.turn_idx, t.text)))
  }
}
