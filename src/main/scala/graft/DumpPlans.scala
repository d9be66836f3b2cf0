package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: formatted physical plans for representative queries
  * and the engine's fold, as reviewable evidence of pushdown/pruning/
  * broadcast/codegen behavior. Re-run after plan-affecting changes.
  *
  * `DumpPlans <name> ...` instead writes each named plan to
  * `plans/<name>.txt`: a `SparkEntry` query over the tables in
  * `SPARK_GRAFT_SF_DIR`, or `cdc_fold`, the per-key fold over a generated
  * 100k-event change-log batch (it also writes `cdc_fold_one_task.txt`,
  * the same fold over the batch coalesced to one partition: the plan a
  * one-task epoch runs, with no exchange). It uses `Bench.session` (`SPARK_GRAFT_CPUS`
  * cores, default 32), so the dumped initial plans match what the bench
  * executes.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    if (args.nonEmpty) return dumpNamed(args.toSeq)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"

    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))

    val picks = Seq(
      "q01_agg_pricing" -> "scan + decimal-exact aggregation (pushdown + codegen)",
      "q02_filter_project" -> "filter/projection pushdown into the parquet scan",
      "q04_broadcast_join" -> "small dimensions -> BroadcastHashJoin",
      "q12_cdc_upsert_fold" -> "the anchor/update CDC fold on real data",
      "q19_dedup_minhash_lsh" -> "exact-dup star pre-pass, one md5/shingle sliced into 4 bands, band-group frequency cap before the self-join",
      "q21_dedup_ngram_jaccard" -> "LSH-gated Jaccard: repartition before the gram lambda; size prefilter under the intersect",
      "q26_embed_knn" -> "brute-force cosine kNN (zip_with/aggregate in double)",
      "q28_ann_ivf" -> "IVF ANN with Hamming<=1 multi-probe explode on the probe side",
      "q34_sessionize" -> "gap sessionization: ONE shuffle on user_id feeds lag/boundary/running-sum and the session aggregate",
      "q35_asof_join" -> "as-of join, melt formulation: single ordered pass per user, no range self-join",
      "q36_funnel_steps" -> "ordered funnel: each step joins the previous step's shrinking per-user aggregate (AQE broadcast)",
      "q37_retention_cohort" -> "cohort retention: first-seen x active-day, both sides partitioned on user_id",
      "q38_window_agg" -> "event-time tumbling window in batch: window() lowers to ONE hash aggregation",
      "q39_scd2_intervals" -> "SCD2 intervals: ONE shuffle on user_id feeds row_number + lead + the interval projection",
      "q40_profile_stats" -> "dataset profile: all column stats in ONE scan (multi-distinct plans as one Expand)",
      "q41_contamination" -> "train/eval decontamination: one shingle pass + broadcast join on the eval side",
      "q43_profile_quantiles" -> "exact discrete quantiles as order statistics: bounded-stratum window over (lang, length) counts",
      "q44_train_manifest" -> "training manifest: quality filter -> anti-join drop set -> embedding join, no extra exchanges",
      "q45_text_repetition" -> "intra-doc repetition: one explode feeds map-side-combined per-doc aggs; the bigram leg joins back on doc_id",
      "q46_keyword_tfidf" -> "keyword tf-idf: token tf agg + vocabulary-sized df agg joined on the word key; top-3 window over per-doc groups",
      "q47_vocab_stats" -> "per-source vocabulary profile: count_distinct lowers to a two-level aggregation — the shuffle carries (source, word) partials (vocabulary-sized), never rows",
      "q48_embed_centroids" -> "label centroids: posexplode to (label, dim) integer partials -> ONE hash aggregation, corpus-size-independent shuffle",
      "q49_mm_frames" -> "multimodal frame demux: typed mapPartitions row-expansion; the parquet scan prunes to the two consumed columns BEFORE the object boundary (ReadSchema), so payload bytes are the only wide data in flight",
      "q50_token_packing" -> "context-window packing manifest: one running-sum window per shard over manifest-sized rows (ids + counts, never text); shard count = parallelism knob",
      "q51_rag_chunks" -> "RAG chunk split: split -> sequence -> explode -> slice, all narrow — zero exchanges at any corpus size; scan prunes to (doc_id, text)",
      "q52_render_transcript" -> "session transcript rendering: ONE hash aggregation on user_id (collect_list + array_sort inside the agg) — each event crosses the exchange once; output rows are session-sized")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by graft.DumpPlans)\n\n")
    sb.append("Evidence that the declarative design claims hold in actual plans:\n")
    sb.append("`PushedFilters`/`ReadSchema` show scan-level pushdown and pruning;\n")
    sb.append("`BroadcastHashJoin` for small dims; a single-window CDC fold.\n")
    picks.foreach { case (name, why) =>
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(fmt(SparkEntry.queries(name)(spark, dir)).take(4500))
      sb.append("\n```\n")
    }

    // the engine fold + merge plan
    import TestHelpersMain._
    val events = demoEvents(spark)
    val wipes = graft.operators.MergeEngine.seriesWipes(events)
    sb.append("\n## MergeEngine.netActions — the per-key fold: ONE exchange, ONE sort of the\n")
    sb.append("payload, one Window pass (row_number picks the key's last event, an\n")
    sb.append("unbounded-frame max picks the anchor)\n\n```\n")
    sb.append(fmt(graft.operators.MergeEngine.netActions(events, wipes)).take(4500))
    sb.append("\n```\n")
    sb.append("\n## MergeEngine.netActions — opt-in bucket alignment (ONE payload exchange:\n")
    sb.append("the REPARTITION_BY_NUM onto the bucket key; the (bucket, key) window and\n")
    sb.append("the per-bucket delta write then run partition-local, no further exchange —\n")
    sb.append("the cross-node-traffic-halving plan for network-shuffle clusters; see\n")
    sb.append("MergeSpec.foldAlignment for why the single-socket default is \"key\")\n\n```\n")
    sb.append(fmt(graft.operators.MergeEngine.netActions(events, wipes, Some(8))).take(4500))
    sb.append("\n```\n")
    sb.append("\n## MergeEngine.netActions — a one-task epoch (MergeEngine.plansOneTask: the\n")
    sb.append("batch's scan is one partition, coalesced): NO exchange; the window sorts the\n")
    sb.append("single partition in place, and the delta write and event-log append are\n")
    sb.append("one task each instead of a rebalance\n\n```\n")
    sb.append(fmt(oneTaskFold(events)).take(4500))
    sb.append("\n```\n")

    // the pruned MOR read: untouched base rows pass through via broadcast
    // anti-joins; only delta-touched keys enter the fold aggregation
    locally {
      import org.apache.spark.sql.functions._
      val d = Files.createTempDirectory("plans-mor").toString
      val t = graft.table.IceLite.create(s"$d/t", graft.model.Schemas.transcript, 4)
      val seed = spark.range(200).select(
        lit(0).as("partition"), col("id").as("offset"),
        lit(new java.sql.Timestamp(1700000000000L)).as("ts"), lit("insert").as("op"),
        concat(lit("c"), col("id")).as("conv_id"), lit(0).as("turn_idx"),
        struct(concat(lit("c"), col("id")).as("conv_id"), lit(0).as("turn_idx"),
          lit("user").as("role"), lit("x").as("text"),
          lit(null).cast("string").as("tool"),
          lit(new java.sql.Timestamp(1700000000000L)).as("ts")).as("after"),
        lit(2).as("schema_v"))
      graft.operators.CdcApply.applyBatch(spark, t, seed,
        spec = graft.model.MergeSpec(numBuckets = 4, morCompactThreshold = 1000))
      t.compactDeltas(spark, 0)
      graft.operators.CdcApply.applyBatch(spark, t, seed.filter(col("offset") < 5)
        .withColumn("offset", col("offset") + 1000).withColumn("op", lit("upsert")),
        spec = graft.model.MergeSpec(numBuckets = 4, morCompactThreshold = 1000))
      sb.append("\n## IceLiteTable.read with outstanding MOR deltas — pruned merge-on-read\n")
      sb.append("(base LeftAnti broadcast(delta keys) pass-through ∪ LeftSemi-gated fold:\n")
      sb.append("untouched base rows never enter an exchange)\n\n```\n")
      sb.append(fmt(t.read(spark)).take(5500))
      sb.append("\n```\n")

      // change feed over the same table: one scan of the range's delta
      // bytes, no state read, no per-commit union
      sb.append("\n## IceLiteTable.readChanges — CDC egress: ONE scan over the range's delta files\n")
      sb.append("(no base-state read; appends would add one more scan + a broadcast\n")
      sb.append("file→version join, never a per-commit union)\n\n```\n")
      sb.append(fmt(t.readChanges(spark, 1)).take(3500))
      sb.append("\n```\n")

      // incremental-view group delta: ONE before-state read (checkpointed,
      // shows as ExistingRDD), after-state derived by folding the feed
      val vspec = graft.operators.IncrementalView.ViewSpec(
        dims = Seq("role" -> col("role")),
        sums = Seq("chars" -> length(col("text")).cast("long")))
      sb.append("\n## IncrementalView.groupDelta — one state read; after-state = feed folded over it\n")
      sb.append("(the before side is locally checkpointed — it appears as ExistingRDD —\n")
      sb.append("and feeds BOTH the negative aggregate and the fold that derives the\n")
      sb.append("after side; no second table scan anywhere in the plan)\n\n```\n")
      sb.append(fmt(graft.operators.IncrementalView.groupDelta(
        spark, t, vspec, 2, t.currentVersion)).take(5500))
      sb.append("\n```\n")

      // SCD2 history transitions: feed scan + bucket-pruned history point
      // reads + ONE window chain partitioned by the source key
      val h = graft.table.IceLite.create(s"$d/h",
        graft.operators.Scd2History.historySchema(graft.model.Schemas.transcript), 4)
      graft.operators.Scd2History.refresh(spark, t, h)
      val hFrom = t.currentVersion
      val dels = spark.range(3).select(
        lit(0).as("partition"), (col("id") + 3000).as("offset"),
        lit(new java.sql.Timestamp(1700000000000L)).as("ts"), lit("delete").as("op"),
        concat(lit("c"), col("id")).as("conv_id"), lit(0).as("turn_idx"),
        lit(null).cast(graft.model.Schemas.transcript).as("after"),
        lit(2).as("schema_v"))
      graft.operators.CdcApply.applyBatch(spark, t, dels,
        spec = graft.model.MergeSpec(numBuckets = 4, morCompactThreshold = 1000))
      sb.append("\n## Scd2History.transitionRows — version transitions for one refresh range\n")
      sb.append("(feed scan over O(changes) delta bytes; the touched keys' open history\n")
      sb.append("rows arrive via a bucket-pruned point read + semi join; the transition\n")
      sb.append("fold is window functions over ONE exchange keyed by the source key —\n")
      sb.append("no history scan, no source-state scan when the range has no wipes)\n\n```\n")
      sb.append(fmt(graft.operators.Scd2History.transitionRows(
        spark, t, h, graft.model.Schemas.transcript, hFrom, t.currentVersion)).take(6000))
      sb.append("\n```\n")
      Bench.deleteRecursively(d)
    }

    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }

  /** The fold of a one-task epoch: the batch coalesced to one partition,
    * as CdcApply does when [[graft.operators.MergeEngine.plansOneTask]]
    * holds, with the wipe set broadcast. */
  private def oneTaskFold(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.operators.MergeEngine
    val one = events.coalesce(1)
    require(MergeEngine.plansOneTask(one))
    MergeEngine.netActions(one, org.apache.spark.sql.functions.broadcast(MergeEngine.seriesWipes(one)))
  }

  private def dumpNamed(names: Seq[String]): Unit = {
    import graft.operators.MergeEngine
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-dump-plans")
    val outDir = Paths.get("plans")
    Files.createDirectories(outDir)
    names.flatMap { name =>
      if (name == "cdc_fold") {
        val events = graft.gen.ChangeLogGen.events(spark,
          graft.gen.ChangeLogGen.GenConfig(numEvents = 100000L))
        Seq(name -> MergeEngine.netActions(events,
          org.apache.spark.sql.functions.broadcast(MergeEngine.seriesWipes(events))),
          s"${name}_one_task" -> oneTaskFold(events))
      } else Seq(name -> SparkEntry.queries(name)(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        sys.error(s"$name: set SPARK_GRAFT_SF_DIR to the query tables' directory"))))
    }.foreach { case (name, df) =>
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(outDir.resolve(s"$name.txt"), txt.getBytes("UTF-8"))
      System.err.println(s"[plans] wrote $name.txt (${txt.length} chars)")
    }
    graft.queries.ContentQueries.clearShared(spark)
    spark.stop()
  }
}

/** Tiny event fixture without depending on test classes. */
object TestHelpersMain {
  import java.sql.Timestamp
  import graft.model.{ChangeEvent, TranscriptTurn}
  def demoEvents(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val ts = new Timestamp(1700000000000L)
    Seq(
      ChangeEvent(0, 0L, ts, "insert", "c1", Some(0), Some(TranscriptTurn("c1", 0, "user", "a", null, ts)), 2),
      ChangeEvent(0, 1L, ts, "update", "c1", Some(0), Some(TranscriptTurn("c1", 0, "user", "b", null, ts)), 2),
      ChangeEvent(0, 2L, ts, "delete", "c2", None, None, 2)
    ).toDS().toDF()
  }
}
