package graft

import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the Spark-first design claims (pushdown,
  * pruning, broadcast, codegen, bucket pruning) hold in the actual plans,
  * not just in comments. Uses explain(formatted) output.
  */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Every node of an executed plan, adaptive stages and cached plans inlined. */
  private def flat(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
    case q: QueryStageExec        => q +: flat(q.plan)
    case m: InMemoryTableScanExec => m +: flat(m.relation.cachedPlan)
    case c: CommandResultExec     => c +: flat(c.commandPhysicalPlan)
    case other                    => other +: other.children.flatMap(flat)
  }

  test("filter + projection are pushed into the parquet scan (q02)") {
    val plan = planOf(SparkEntry.queries("q02_filter_project")(spark, dir))
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(l_discount"), plan)
    // column pruning: the scan reads only the needed columns, not l_tax etc.
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_tax") && readSchema.contains("l_extendedprice"), readSchema)
  }

  test("small dimensions are broadcast (q04)") {
    val plan = planOf(SparkEntry.queries("q04_broadcast_join")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("whole-stage codegen covers the aggregation pipeline (q01)") {
    // AQE shows codegen spans only on the executed plan
    val df = SparkEntry.queries("q01_agg_pricing")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan.take(1500))
  }

  test("fold=window: one sort, a Window node, no aggregate of the payload") {
    import TestHelpers._
    val events = eventsDF(spark, Seq(ins(0, "c1", 0, "a"), upd(1, "c1", 0, "b"), ins(2, "c2", 0, "c")))
    val wipes = broadcast(graft.operators.MergeEngine.seriesWipes(events))
    val plan = planOf(graft.operators.MergeEngine.netActions(events, wipes))
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("SortAggregate"),
      "the payload must not be aggregated: a struct-valued aggregate plans a partial+final pair of payload sorts")
    // exactly one Sort of the batch (the window's)
    val sorts = plan.linesIterator.count(_.trim.matches("""\(\d+\) Sort(?:\s.*)?"""))
    assert(sorts == 1, s"expected 1 Sort, got $sorts:\n${plan.take(3000)}")
    // row_number and the anchor max share ONE WindowExec (CollapseWindow
    // fires because the anchor struct is pre-projected, keeping the two
    // Window nodes adjacent) — each group's rows are buffered once
    val windows = plan.linesIterator.count(_.trim.matches("""\(\d+\) Window(?:\s.*)?"""))
    assert(windows == 1, s"expected 1 Window node, got $windows:\n${plan.take(3000)}")
  }

  /** The aggregate formulation of the net-action fold, kept here as an
    * independent reference for [[graft.operators.MergeEngine.netActions]]:
    * one group per (conv_id, turn_idx) built from conditional `max_by`s —
    * the key's last event supplies value and lineage, the last non-update
    * its anchor, and a wipe with no later anchor turns updates into a
    * delete — plus a separate marker leg: one Wipe row per conversation
    * of `wipes`, with the lineage of its last series delete.
    */
  private def aggFold(events: org.apache.spark.sql.DataFrame,
                      wipes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.model.NetAction
    val anchorOff = when(col("op") =!= "update", col("offset"))
    val markers = wipes
      .join(events.filter(col("op") === "delete" && col("turn_idx").isNull)
        .groupBy("conv_id").agg(max_by(col("partition"), col("offset")).as("src_partition")), Seq("conv_id"))
      .select(
        col("conv_id"),
        lit(null).cast("int").as("turn_idx"),
        lit(NetAction.Wipe).as("action"),
        lit(null).cast(events.schema("after").dataType).as("row"),
        col("wipe_off").as("src_offset"),
        col("src_partition"))
    events
      .filter(col("turn_idx").isNotNull)
      .join(wipes, Seq("conv_id"), "left")
      .filter(col("offset") > coalesce(col("wipe_off"), lit(Long.MinValue)))
      .groupBy("conv_id", "turn_idx")
      .agg(
        max_by(struct(col("after").as("after"), col("partition").as("part")), col("offset")).as("last"),
        max(col("offset")).as("last_off"),
        max(anchorOff).as("a_off"),
        max_by(col("op"), anchorOff).as("a_op"),
        max(col("wipe_off")).as("wipe_off"))
      .select(
        col("conv_id"),
        col("turn_idx"),
        when(col("a_off").isNull && col("wipe_off").isNull, NetAction.UpdateIfExists)
          .when(col("a_off").isNull, NetAction.Del)
          .when(col("a_op") === "delete", NetAction.Del)
          .otherwise(NetAction.Put)
          .as("action"),
        when(col("a_off").isNotNull && col("a_op") === "delete", lit(null))
          .otherwise(col("last.after"))
          .as("row"),
        col("last_off").as("src_offset"),
        col("last.part").as("src_partition"))
      .unionByName(markers)
  }

  test("fold=window equals fold=agg on net actions (both alignments)") {
    import TestHelpers._
    val evs = Seq(
      ins(0, "c1", 0, "a"), upd(1, "c1", 0, "b"), del(2, "c1", Some(0)),
      ins(3, "c2", 1, "x"), upd(4, "c2", 1, "y"), ins(5, "c3", 0, "z"),
      del(6, "c3", None), ins(7, "c3", 1, "w"), upd(8, "c4", 2, "u"),
      ups(9, "c5", 0, "v"), del(10, "c5", Some(0)), upd(11, "c5", 0, "ghost"),
      // duplicate delivery of an identical row: either pick is the same row
      ins(3, "c2", 1, "x"))
    val events = eventsDF(spark, evs)
    val wipes = broadcast(graft.operators.MergeEngine.seriesWipes(events))
    val agg = aggFold(events, wipes)
      .orderBy("conv_id", "turn_idx").collect().map(_.toString).toSeq
    val win = graft.operators.MergeEngine.netActions(events, wipes)
      .orderBy("conv_id", "turn_idx").collect().map(_.toString).toSeq
    val winB = graft.operators.MergeEngine.netActions(events, wipes, Some(8))
      .drop("bucket").orderBy("conv_id", "turn_idx").collect().map(_.toString).toSeq
    assert(agg.nonEmpty)
    assert(agg == win, s"agg:    $agg\nwindow: $win")
    assert(agg == winB, s"agg:      $agg\nwindow/b: $winB")
  }

  test("bucket-aligned fold: the payload crosses exactly ONE exchange") {
    import TestHelpers._
    val events = eventsDF(spark, Seq(ins(0, "c1", 0, "a"), upd(1, "c1", 0, "b"), ins(2, "c2", 0, "c")))
    val wipes = broadcast(graft.operators.MergeEngine.seriesWipes(events))
    val df = graft.operators.MergeEngine.netActions(events, wipes, Some(8))
    val plan = planOf(df)
    // the one REPARTITION_BY_NUM exchange onto the bucket key; no
    // ENSURE_REQUIREMENTS exchange may reappear for the fold's window —
    // HashPartitioning(bucket) satisfies its ClusteredDistribution
    // because bucket is a prefix of the partition spec
    val shuffles = plan.linesIterator.filter(l =>
      l.trim.startsWith("Arguments: hashpartitioning")).toSeq
    assert(shuffles.size == 1, s"expected 1 shuffle, got:\n${shuffles.mkString("\n")}\n${plan.take(3000)}")
    assert(shuffles.head.contains("REPARTITION_BY_NUM"), shuffles.head)
    assert(df.columns.contains("bucket"), df.columns.mkString(","))
  }

  test("bucket-aligned and key-aligned folds produce identical net actions") {
    import TestHelpers._
    import graft.model.NetAction.{Del, Put, UpdateIfExists, Wipe}
    val evs = Seq(
      ins(0, "c1", 0, "a"), upd(1, "c1", 0, "b"), del(2, "c1", Some(0)),
      ins(3, "c2", 1, "x"), upd(4, "c2", 1, "y"), ins(5, "c3", 0, "z"),
      del(6, "c3", None), ins(7, "c3", 1, "w"), upd(8, "c4", 2, "u"),
      ups(9, "c5", 0, "v"), del(10, "c5", Some(0)), upd(11, "c5", 0, "ghost"),
      // duplicate delivery of an identical row: either pick is the same row
      ins(3, "c2", 1, "x"))
    // (conv_id, turn_idx, action, row text, src_offset): the lineage is
    // the key's last event; c3/0 precedes c3's wipe and has no action,
    // and c3's wipe marker carries the series delete's offset
    val want = Seq(
      ("c1", Some(0), Del, null, 2L),
      ("c2", Some(1), Put, "y", 4L),
      ("c3", None, Wipe, null, 6L),
      ("c3", Some(1), Put, "w", 7L),
      ("c4", Some(2), UpdateIfExists, "u", 8L),
      ("c5", Some(0), Del, null, 11L))
    val events = eventsDF(spark, evs)
    val wipes = broadcast(graft.operators.MergeEngine.seriesWipes(events))
    def actions(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("conv_id", "turn_idx")
        .select(col("conv_id"), col("turn_idx"), col("action"), col("row.text"), col("src_offset"))
        .collect().map(r => (r.getString(0), Option(r.getAs[Integer](1)).map(_.intValue), r.getString(2),
          r.getString(3), r.getLong(4)))
        .toSeq
    val keyed = actions(graft.operators.MergeEngine.netActions(events, wipes))
    val bucketed = actions(graft.operators.MergeEngine.netActions(events, wipes, Some(8)))
    assert(keyed == want, s"key:    $keyed\nwant:   $want")
    assert(bucketed == want, s"bucket: $bucketed\nwant:   $want")
  }

  test("one-task epoch: fold + delta write and event-log append execute with no shuffle exchange") {
    import TestHelpers._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.{CdcApply, EventLogApply}
    import scala.jdk.CollectionConverters._
    val evs = Seq(ins(0, "c1", 0, "a"), upd(1, "c1", 0, "b"), ins(2, "c2", 0, "c"),
      del(3, "c3", None), ins(4, "c3", 1, "d"), ups(5, "c4", 2, "e"))
    // executed plans of one applyBatch + appendBatch: (plan text, shuffle
    // exchanges) per query, and the two writes' shuffle counts
    def epochPlans(shape: BatchShape): (Seq[(String, Int)], Int, Int) = {
      val dir = tmpDir("planspec-onetask")
      val t = graft.table.IceLite.create(s"$dir/state", turnSchema, 4)
      val log = graft.table.IceLite.create(s"$dir/log", EventLogApply.logSchema(turnSchema), 4)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
          val all = flat(qe.executedPlan)
          seen.add((all.map(_.simpleStringWithNodeId()).mkString("\n") + "\n" + qe.executedPlan,
            all.count(_.isInstanceOf[ShuffleExchangeExec])))
        }
        def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        CdcApply.applyBatch(spark, t, batchOf(spark, evs, shape),
          spec = graft.model.MergeSpec(morCompactThreshold = 1000))
        EventLogApply.appendBatch(spark, log, batchOf(spark, evs, shape))
        def write(d: String) = seen.asScala.find(_._1.contains(s"$dir/$d/"))
        val deadline = System.currentTimeMillis() + 20000 // listener bus drain
        while ((write("state").isEmpty || write("log").isEmpty) && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        (seen.asScala.toSeq, write("state").fold(-1)(_._2), write("log").fold(-1)(_._2))
      } finally spark.listenerManager.unregister(listener)
    }
    val (one, oneFold, oneLog) = epochPlans(batchShapes.head)
    assert(oneFold == 0 && oneLog == 0,
      s"fold + delta write: $oneFold, event-log append: $oneLog shuffles\n${one.map(_._1).mkString("\n\n")}")
    // the planning aggregate plans none either
    assert(one.forall(_._2 == 0), one.filter(_._2 > 0).map(_._1).mkString("\n\n"))
    // the epoch holds a series delete (c3): its wipe set reaches the fold
    // uncached
    val foldPlans = one.map(_._1).filter(_.contains("/state/"))
    assert(foldPlans.nonEmpty && !foldPlans.exists(_.contains("InMemoryTableScan")), foldPlans.mkString("\n\n"))
    // the multi-task shape keeps its exchange plan
    val (_, multiFold, multiLog) = epochPlans(batchShapes.last)
    assert(multiFold > 0 && multiLog > 0, s"multi-task fold: $multiFold, append: $multiLog")
  }

  test("IceLite point read scans only the target bucket's files") {
    import TestHelpers._
    val d = tmpDir("planspec") + "/t"
    val t = graft.table.IceLite.create(d, turnSchema, 16)
    val evs = (0 until 64).map(i => ins(i.toLong, f"c$i%02d", 0, s"v$i"))
    graft.operators.CdcApply.applyBatch(spark, t, eventsDF(spark, evs),
      spec = graft.model.MergeSpec(morCompactThreshold = 1000))
    t.compactDeltas(spark)
    assert(t.deltaFiles().isEmpty)
    val b = spark.range(1)
      .select(graft.operators.MergeEngine.bucketOf(lit("c07"), 16)).collect()(0).getInt(0)
    val pruned = t.read(spark, Some(Set(b)))
    val allFiles = t.dataFiles().size
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f })
      .map(_.relation.location.inputFiles.length).sum
    assert(scanned < allFiles, s"scanned $scanned of $allFiles")
  }

  test("one-bucket MOR point read: no exchange, no broadcast, key filter in every scan") {
    import TestHelpers._
    val d = tmpDir("planspec-mor") + "/t"
    val t = graft.table.IceLite.create(d, turnSchema, 4)
    val mor = graft.model.MergeSpec(morCompactThreshold = 1000)
    val seed = (0 until 40).map(i => ins(i.toLong, f"c$i%02d", i % 3, s"v$i"))
    graft.operators.CdcApply.applyBatch(spark, t, eventsDF(spark, seed), spec = mor)
    assert(t.compactDeltas(spark) > 0)
    graft.operators.CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(
      // an update of c07's base row, a new c07 turn, a wipe in another conv
      upd(100, "c07", 1, "u"), ins(101, "c07", 5, "n"), del(102, "c11", None))), spec = mor)
    val b = spark.range(1)
      .select(graft.operators.MergeEngine.bucketOf(lit("c07"), 4)).collect()(0).getInt(0)
    assert(t.dataFiles(Some(Set(b))).nonEmpty && t.deltaFiles(Some(Set(b))).nonEmpty)
    val df = t.read(spark, Some(Set(b))).filter(col("conv_id") === "c07")
    assert(df.select("turn_idx", "text").collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "u"), (5, "n")))
    def nodes(df: org.apache.spark.sql.DataFrame) = {
      val plan = df.queryExecution.executedPlan
      plan.collect { case p => p } ++ plan.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      }.flatMap(_.collect { case p => p })
    }
    // every base and delta scan carries the key predicate
    def assertKeyInScans(df: org.apache.spark.sql.DataFrame): Unit = {
      val scans = nodes(df).collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      val (deltaScans, baseScans) = scans.partition(_.requiredSchema.fieldNames.contains("action"))
      assert(baseScans.nonEmpty && deltaScans.nonEmpty, df.queryExecution.executedPlan.toString)
      scans.foreach { s =>
        assert(s.dataFilters.exists(f => f.references.exists(_.name == "conv_id") &&
          f.toString.contains("c07")),
          s"conv_id filter missing from a scan:\n${df.queryExecution.executedPlan}")
      }
    }
    val all = nodes(df)
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      df.queryExecution.executedPlan.toString)
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
      df.queryExecution.executedPlan.toString)
    assertKeyInScans(df)
    // a multi-bucket merge keys its fold output on the grouping columns
    // too, so the predicate reaches its scans as well, in both placements:
    // the small read's one-task fold and, one byte over the gate, the
    // fold's exchange
    val pair = Some(Set(b, (b + 1) % 4))
    def checkMulti(): Unit = {
      val df = t.read(spark, pair).filter(col("conv_id") === "c07")
      assert(df.select("turn_idx", "text").collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
        Set((1, "u"), (5, "n")))
      assertKeyInScans(df)
    }
    checkMulti()
    TestHelpers.withBroadcastThreshold(spark, graft.table.MorRead.deltaBytes(t.deltaFiles(pair)) - 1)(checkMulti())
  }

  /** A 4-bucket table: 40 rows compacted into base files, then one
    * merge-on-read commit (an update, an insert, a series wipe, an upsert)
    * whose one delta file spans several buckets. */
  private def multiBucketFixture(name: String): graft.table.IceLiteTable = {
    import TestHelpers._
    val t = graft.table.IceLite.create(tmpDir(name) + "/t", turnSchema, 4)
    val mor = graft.model.MergeSpec(morCompactThreshold = 1000)
    graft.operators.CdcApply.applyBatch(spark, t,
      eventsDF(spark, (0 until 40).map(i => ins(i.toLong, f"c$i%02d", i % 3, s"v$i"))), spec = mor)
    assert(t.compactDeltas(spark) > 0)
    graft.operators.CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(
      upd(100, "c07", 1, "u"), ins(101, "c07", 5, "n"), del(102, "c11", None), ups(103, "c20", 2, "w"))),
      spec = mor)
    assert(t.dataFiles().nonEmpty && t.deltaFiles().nonEmpty)
    t
  }

  /** A full read of `t`, checked against the fixture's state and run:
    * its executed nodes, its base and delta scans and its plan text. */
  private def fixtureRead(t: graft.table.IceLiteTable) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = t.read(spark)
    assert(df.count() == 40 - 1 + 1, "the fixture's state")
    assert(df.filter(col("conv_id") === "c07").select("turn_idx", "text").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet == Set((1, "u"), (5, "n")))
    val all = executedNodes(df)
    val (deltaScans, baseScans) = all.collect { case f: FileSourceScanExec => f }
      .partition(_.relation.dataSchema.fieldNames.contains("action"))
    (all, deltaScans, baseScans, df.queryExecution.executedPlan.toString)
  }

  /** Whether a delta or base scan sits under `p`. */
  private def scans(p: SparkPlan, delta: Boolean): Boolean = flat(p).exists {
    case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      f.relation.dataSchema.fieldNames.contains("action") == delta
    case _ => false
  }

  test("small multi-bucket MOR read: deltas folded in one task, fold broadcast, no exchange") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val t = multiBucketFixture("planspec-mor-small")
    val (all, deltaScans, baseScans, shown) = fixtureRead(t)
    assert(graft.table.MorRead.deltaBytes(t.deltaFiles()) <= spark.sessionState.conf.autoBroadcastJoinThreshold,
      "the fixture's deltas are under the broadcast threshold")
    assert(!all.exists(_.isInstanceOf[ShuffleExchangeExec]), shown)
    // the fold is broadcast; the base streams past it, never broadcast
    val broadcasts = all.collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.nonEmpty && broadcasts.forall(b => scans(b, delta = true) && !scans(b, delta = false)),
      shown)
    assert(baseScans.size == 1 && baseScans.head.requiredSchema.fieldNames.contains("text"), shown)
    // the fold's scan and the anchor Puts' re-fold
    assert(deltaScans.size == 2, shown)
  }

  test("multi-bucket MOR read: one payload base scan, one delta exchange, one fold") {
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val t = multiBucketFixture("planspec-mor-multi")
    // deltas one byte over the broadcast threshold take the exchange
    // placement; the planner still broadcasts the fold, whose estimate is
    // smaller than its files
    val (all, _, baseScans, shown) =
      TestHelpers.withBroadcastThreshold(spark, graft.table.MorRead.deltaBytes(t.deltaFiles()) - 1) {
        fixtureRead(t)
      }
    assert(baseScans.size == 1 && baseScans.head.requiredSchema.fieldNames.contains("text"), shown)
    // a reused stage is a leaf, so its exchange is counted once
    val shuffles = all.collect { case e: ShuffleExchangeExec => e }
    // base rows never cross an exchange
    assert(shuffles.forall(!scans(_, delta = false)), shown)
    val payload = shuffles.filter(e => flat(e).exists {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.dataSchema.fieldNames.contains("action") && f.requiredSchema.fieldNames.contains("row")
      case _ => false
    })
    assert(payload.size == 1, shown)
    assert(!flat(payload.head).exists(_.isInstanceOf[SortAggregateExec]),
      s"the payload is aggregated below the exchange:\n$shown")
  }

  /** Every executed node of `df`, run first. */
  private def executedNodes(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    df.collect()
    flat(df.queryExecution.executedPlan)
  }

  /** Input files of a scan, as local paths. */
  private def scanFiles(f: org.apache.spark.sql.execution.FileSourceScanExec): Set[String] =
    f.relation.location.inputFiles.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet

  /** A 4-bucket table: 40 rows compacted into base files, then three
    * merge-on-read commits (updates, inserts, row deletes; no wipe).
    * Returns the table and the version before those commits. */
  private def feedFixture(name: String): (graft.table.IceLiteTable, Long) = {
    import TestHelpers._
    val t = graft.table.IceLite.create(tmpDir(name) + "/t", turnSchema, 4)
    val mor = graft.model.MergeSpec(morCompactThreshold = 1000)
    graft.operators.CdcApply.applyBatch(spark, t,
      eventsDF(spark, (0 until 40).map(i => ins(i.toLong, f"c$i%02d", 0, s"v$i"))), spec = mor)
    assert(t.compactDeltas(spark) > 0 && t.deltaFiles().isEmpty)
    val from = t.currentVersion
    Seq(Seq(upd(100, "c07", 0, "u"), ins(101, "c07", 1, "n")),
      Seq(del(102, "c11", Some(0)), ups(103, "c20", 2, "w")),
      Seq(upd(104, "c30", 0, "x"))).foreach { evs =>
      graft.operators.CdcApply.applyBatch(spark, t, eventsDF(spark, evs), spec = mor)
    }
    (t, from)
  }

  test("change feed: ONE scan of exactly the range's delta files, no base scan, no union") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
    val (t, from) = feedFixture("planspec-feed")
    assert(t.currentVersion == from + 3 && t.dataFiles().nonEmpty)
    val df = t.readChanges(spark, from)
    val all = executedNodes(df)
    // the compaction left no deltas, so every delta file is the range's
    val scans = all.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    assert(scanFiles(scans.head) == t.deltaFiles().toSet, df.queryExecution.executedPlan.toString)
    assert(!all.exists(_.isInstanceOf[UnionExec]), df.queryExecution.executedPlan.toString)
    assert(df.count() == 5)
  }

  test("groupDelta: no table scan; one checkpointed before side feeds both aggregates") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    import graft.operators.IncrementalView
    val (t, from) = feedFixture("planspec-ivm")
    val vspec = IncrementalView.ViewSpec(
      dims = Seq("role" -> col("role")),
      sums = Seq("chars" -> length(col("text")).cast("long")))
    val df = IncrementalView.groupDelta(spark, t, vspec, from, t.currentVersion)
    val all = executedNodes(df)
    val shown = df.queryExecution.executedPlan.toString
    assert(!all.exists(_.isInstanceOf[FileSourceScanExec]), shown)
    // two checkpoints: the before state (table columns) and the feed
    // (rows in a struct); the before one is scanned by the negative
    // aggregate and by the fold that derives the after side
    val rdds = all.collect { case r: RDDScanExec => r }
    val (before, feed) = rdds.partition(_.output.exists(_.name == "role"))
    assert(before.map(_.rdd.id).distinct.size == 1 && before.size == 2, shown)
    assert(feed.map(_.rdd.id).distinct.size == 1, shown)
  }

  test("SCD2 transitions: bucket-pruned history read, no source scan, ONE key exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.ResultQueryStageExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.operators.Scd2History
    import TestHelpers._
    val (t, from) = feedFixture("planspec-scd2")
    val h = graft.table.IceLite.create(tmpDir("planspec-scd2") + "/h", Scd2History.historySchema(turnSchema), 16)
    Scd2History.refresh(spark, t, h, toVersion = from)
    h.compactDeltas(spark)
    val historyFiles = (h.dataFiles() ++ h.deltaFiles()).toSet
    val df = Scd2History.transitionRows(spark, t, h, turnSchema, from, t.currentVersion)
    val all = executedNodes(df)
    val shown = df.queryExecution.executedPlan.toString
    // the source is read only through the checkpointed feed; the history
    // only in the touched keys' buckets
    val scanned = all.collect { case f: FileSourceScanExec => scanFiles(f) }.flatten.toSet
    assert(scanned.nonEmpty && scanned.subsetOf(historyFiles) && scanned.size < historyFiles.size,
      s"scanned ${scanned.size} of ${historyFiles.size} history files\n$shown")
    // the nodes above the first exchange on every path, and those exchanges
    def top(p: SparkPlan): (Seq[SparkPlan], Seq[SparkPlan]) = p match {
      case a: AdaptiveSparkPlanExec => top(a.executedPlan)
      case r: ResultQueryStageExec  => top(r.plan)
      case q: QueryStageExec        => (Nil, Seq(q.plan))
      case e: Exchange              => (Nil, Seq(e))
      case other =>
        val (nodes, exchanges) = other.children.map(top).unzip
        (other +: nodes.flatten, exchanges.flatten)
    }
    val (stage, below) = top(df.queryExecution.executedPlan)
    val windows = all.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(w => stage.exists(_ eq w)), shown)
    val shuffles = below.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, shown)
    assert(shuffles.head.outputPartitioning.asInstanceOf[HashPartitioning].expressions
      .flatMap(_.references.map(_.name)) == Seq("src_conv_id", "src_turn_idx"), shown)
  }

  test("events parquet scan prunes to envelope columns used by the planning aggregate") {
    import TestHelpers._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val d = tmpDir("planspec-scan")
    // a series delete, so the aggregate's wipe column counts one
    eventsDF(spark, Seq(ins(0, "c1", 0, "a"), del(1, "c2", None))).write.parquet(s"$d/ev")
    val t = graft.table.IceLite.create(s"$d/t", turnSchema, 4)
    // the physical plan of each query the engine runs, by its job label
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.merge(s.description, s.physicalPlanDescription, _ + "\n" + _)
        case _ =>
      }
    }
    // the batch's fold job, labelled with the seq of the commit it stages
    val foldLabel = s"cdc: fold + delta write (seq ${t.current.version + 1})"
    def foldPlan = Option(plans.get(foldLabel))
    spark.sparkContext.addSparkListener(listener)
    // no size-based broadcast: only the engine's own hint broadcasts the
    // wipe set
    try withBroadcastThreshold(spark, -1) {
      graft.operators.CdcApply.applyBatch(spark, t, spark.read.parquet(s"$d/ev"),
        spec = graft.model.MergeSpec(morCompactThreshold = 1000))
      val deadline = System.currentTimeMillis() + 20000 // listener bus drain
      while (!(plans.containsKey("cdc: planning aggregate") && foldPlan.nonEmpty) &&
        System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the engine's narrow planning aggregate (r06), its wipe column
    // included: no _error reference anywhere — an aggregate touching
    // _error reads the WHOLE after struct (IsNull over a struct defeats
    // nested-schema pruning), which is why the rejected count moved to
    // an observed metric on the fold's own scan
    val plan = Option(plans.get("cdc: planning aggregate")).getOrElse("")
    val readSchemas = plan.linesIterator.filter(_.trim.startsWith("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("after")),
      s"narrow planning scan must not read the after struct at all:\n$plan")
    // and the fold's wipe aggregate, the scan under its broadcast join
    // side, stays off the payload too
    val fold = foldPlan.getOrElse(fail(s"no plan recorded under '$foldLabel': ${plans.keySet}"))
    val tree = fold.linesIterator.drop(1).takeWhile(_.nonEmpty).toSeq
    val bx = tree.indexWhere(_.contains("BroadcastExchange"))
    assert(bx >= 0, s"the fold of a series-delete batch must broadcast its wipe set:\n$fold")
    val wipeScans = tree.drop(bx + 1).takeWhile(_.indexOf("- ") > tree(bx).indexOf("- "))
      .filter(_.contains("Scan parquet")).map(l => l.substring(l.lastIndexOf("(")).trim)
    val wipeReads = wipeScans.flatMap(n => fold.split("\n\n").find(_.startsWith(s"$n Scan parquet")))
      .flatMap(_.linesIterator.find(_.startsWith("ReadSchema")))
    assert(wipeReads.nonEmpty && wipeReads.size == wipeScans.size && wipeReads.forall(!_.contains("after")),
      s"wipe aggregate scan must not read the after struct:\n$fold")
    assert(t.read(spark).count() == 1L)
  }
}
