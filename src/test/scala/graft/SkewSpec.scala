package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.MergeEngine

/** Hot-key immunity of the per-key fold, measured at the task level
  * (BASELINE.md claims it "by construction"; this pins it empirically —
  * VERDICT r05 #5). The fold's shuffle key is (conv_id, turn_idx), so a
  * Zipf-hot conversation spreads across its turns: no reduce task may
  * read more than 2x the median task's shuffle rows even when ONE
  * conversation carries ~20% of the batch.
  *
  * Reference anchor: hash distribution exists exactly to spread hot
  * keys (`/root/reference/src/main/java/io/confluent/connect/jdbc/dialect/PostgreSqlDatabaseDialect.java:208-232`).
  */
class SkewSpec extends SparkSuite {

  /** ~20% of events on one conversation (spread over 50 turns), the rest
    * over 4000 cold conversations; a sprinkle of duplicate deliveries.
    */
  private def hotBatch(n: Int): DataFrame = {
    val ts = lit(new java.sql.Timestamp(1700000000000L))
    // duplicate delivery: every 97th row re-delivers the whole previous
    // row (same offset, key and payload)
    val id = when(col("id") % 97 === 96, col("id") - 1).otherwise(col("id"))
    val hot = id % 5 === 0
    val conv = when(hot, lit("c_hot")).otherwise(concat(lit("c"), id % 4000))
    val turn = when(hot, ((id / 5) % 50)).otherwise((id / 4000) % 8).cast("int")
    spark.range(n).select(
      lit(0).as("partition"),
      id.as("offset"),
      ts.as("ts"),
      lit("upsert").as("op"),
      conv.as("conv_id"),
      turn.as("turn_idx"),
      struct(conv.as("conv_id"), turn.as("turn_idx"), lit("user").as("role"),
        concat(lit("text-"), id).as("text"), lit(null).cast("string").as("tool"),
        ts.as("ts")).as("after"),
      lit(2).as("schema_v"))
  }

  private def reduceTaskRows(df: DataFrame): Seq[Long] = {
    val perStage = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null && m.shuffleReadMetrics != null)
          perStage.computeIfAbsent(te.stageId, _ => new ConcurrentLinkedQueue[Long]())
            .add(m.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      Thread.sleep(1000) // listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    // the fold's reduce stage = the stage with the largest shuffle volume
    val stages = perStage.asScala.map { case (id, q) => id -> q.asScala.toSeq }
    val (_, rows) = stages.maxBy(_._2.sum)
    rows
  }

  test("hot conversation (20% of batch): no fold task reads >2x the median shuffle rows") {
    val events = hotBatch(200000)
    val wipes = broadcast(MergeEngine.seriesWipes(events))
    // enough reduce tasks for a distribution statement; AQE coalescing
    // would legally fuse these few MB into one task and make the test
    // vacuous, so pin both for the duration
    val conf = spark.conf
    val oldPart = conf.get("spark.sql.shuffle.partitions")
    val oldCoalesce = conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.shuffle.partitions", "8")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val rows = reduceTaskRows(MergeEngine.netActions(events, wipes))
      assert(rows.size >= 4, s"expected >=4 reduce tasks, got ${rows.size}")
      val sorted = rows.sorted
      val median = sorted(sorted.size / 2).max(1L)
      val max = sorted.last
      assert(max <= 2 * median,
        s"hot-key skew leaked into the fold shuffle: task rows $sorted " +
          s"(max $max > 2x median $median) — the (conv_id, turn_idx) key must spread a hot conversation")
    } finally {
      conf.set("spark.sql.shuffle.partitions", oldPart)
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", oldCoalesce)
    }
  }

  test("fold exchange hashes on BOTH conv_id and turn_idx (the skew-spreading key)") {
    val events = hotBatch(1000)
    val wipes = broadcast(MergeEngine.seriesWipes(events))
    val plan = MergeEngine.netActions(events, wipes).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchangeLine = plan.linesIterator
      .find(l => l.trim.startsWith("Arguments: hashpartitioning"))
      .getOrElse(fail(s"no hash exchange in plan:\n${plan.take(2000)}"))
    assert(exchangeLine.contains("conv_id") && exchangeLine.contains("turn_idx"),
      s"fold must exchange on (conv_id, turn_idx), got: $exchangeLine")
  }
}
