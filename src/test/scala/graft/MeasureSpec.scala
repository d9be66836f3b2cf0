package graft

/** Smoke test of the `graft.Measure` entry point: each mode runs end to
  * end at a tiny size and reports one table row per timed epoch and a
  * nonempty final state.
  */
class MeasureSpec extends SparkSuite {

  private def epochIds(report: String): Seq[Long] =
    report.linesIterator.collect { case s"| $id | $_" if id.forall(_.isDigit) => id.toLong }.toSeq

  private def stateRows(report: String): Option[Long] =
    """final state rows: (\d+)""".r.findFirstMatchIn(report).map(_.group(1).toLong)

  for (mode <- Seq("mor", "ivm")) test(s"Measure $mode: one row per epoch, nonzero state rows") {
    val report = Measure.run(spark, mode, 2, 2000L)
    assert(epochIds(report) == Seq(0L, 1L), report)
    assert(stateRows(report).exists(_ > 0), report)
  }

  test("Measure meta: one row per data trigger, nonzero state rows") {
    // a trigger admits up to 8 log files and a chunk may be written as
    // fewer, so 2 chunks stream as 1 or 2 triggers
    val report = Measure.run(spark, "meta", 2, 2000L)
    val ids = epochIds(report)
    assert(ids.nonEmpty && ids.size <= 2 && ids == ids.indices.map(_.toLong), report)
    assert(stateRows(report).exists(_ > 0), report)
  }
}
