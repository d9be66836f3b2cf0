package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gen.ChangeLogGen
import graft.model.{MergeSpec, Schemas}
import graft.operators.{CdcApply, IncrementalView, Mirror}
import graft.streaming.CdcStream
import graft.table.{IceLite, IceLiteTable}

/** Flatness: per-epoch cost must stay flat while the table ages, in the
  * per-trigger sense of Structured Streaming (SIGMOD 2018). perfbench's
  * workloads run a fixed short length, so this is the one property they
  * do not measure.
  *
  * {{{
  * sbt "runMain graft.Measure <mor|ivm|meta> [epochs] [eventsPerEpoch]"
  * }}}
  *
  *  - `mor`: wall of each `CdcApply.applyBatch` into a growing
  *    merge-on-read table, and the delta files outstanding after it;
  *  - `ivm`: after each applied epoch, `IncrementalView.refresh` and
  *    `Mirror.sync` over the change feed against a full recompute of the
  *    same aggregate, and the source's row count;
  *  - `meta`: trigger time of each `CdcStream` micro-batch (event log on,
  *    background maintenance every 32 epochs keeping 8 snapshots, FAIR
  *    scheduling).
  *
  * Every mode replays one generated log, `epochs` chunks of
  * `eventsPerEpoch` events over a conversation pool of a quarter of the
  * events (so the state keeps growing), in one temp dir under
  * [[Bench.tmpBase]]. `mor` and `ivm` apply it to a 64-bucket table
  * compacted at 4 deltas a bucket, so compaction runs within a few
  * epochs. The report goes to stdout as markdown: a row per timed epoch,
  * head and tail medians per column, the final state row count and spin
  * probes taken around the epochs.
  */
object Measure {

  /** (epochs, events per epoch) when the command line leaves them out. */
  private val defaults = Map("mor" -> (10, 1000000L), "ivm" -> (12, 1000000L), "meta" -> (200, 5000L))

  private val spec = MergeSpec(numBuckets = 64, morCompactThreshold = 4)

  /** Files per chunk of the generated log; `meta` admits this many per trigger. */
  private val LogFiles = 8

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(defaults.contains)
      .getOrElse(sys.error("usage: graft.Measure <mor|ivm|meta> [epochs] [eventsPerEpoch]"))
    val epochs = args.lift(1).fold(defaults(mode)._1)(_.toInt)
    val perEpoch = args.lift(2).fold(defaults(mode)._2)(_.toLong)
    // background maintenance runs in its own pool; under FAIR it shares
    // task slots with the ingest epochs instead of queueing ahead of them
    if (mode == "meta") sys.props("spark.scheduler.mode") = "FAIR"
    val spark = Bench.session(
      sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt),
      s"graft-measure-$mode")
    try println(run(spark, mode, epochs, perEpoch))
    finally spark.stop()
  }

  /** One timed epoch: its id and one figure per column. */
  private type Row = (Long, Seq[Long])

  /** What a mode measured: column names, epoch rows, the state table and
    * extra report lines. */
  private case class Result(cols: Seq[String], rows: Seq[Row], table: IceLiteTable, notes: Seq[String] = Nil)

  /** Runs `mode` over a freshly generated log and returns the markdown report. */
  def run(spark: SparkSession, mode: String, epochs: Int, perEpoch: Long): String = {
    val dir = Files.createTempDirectory(Bench.tmpBase, s"graft-measure-$mode").toString
    try {
      val total = epochs * perEpoch
      ChangeLogGen.writeLog(spark,
        ChangeLogGen.GenConfig(numEvents = total, numConvs = math.max(1000L, total / 4).toInt,
          maxTurns = 20, logPartitions = LogFiles),
        s"$dir/log", chunks = epochs)
      val spinPre = Bench.spinProbeMs()
      val r = mode match {
        case "mor"  => mor(spark, dir, epochs)
        case "ivm"  => ivm(spark, dir, epochs)
        case "meta" => meta(spark, dir, epochs)
      }
      val spinPost = Bench.spinProbeMs()
      report(f"# graft.Measure $mode: $epochs epochs x $perEpoch%,d events, ${spark.sparkContext.master}",
        r.cols, r.rows,
        s"final state rows: ${r.table.read(spark).count()}" +: r.notes :+
          f"spin probe before/after: $spinPre%.0f/$spinPost%.0f ms (idle ~150)")
    } finally Bench.deleteRecursively(dir)
  }

  private def ms(f: => Any): Long = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1000000L
  }

  /** The per-epoch loop: `step(e)` runs epoch `e` and returns its figures. */
  private def timedEpochs(epochs: Int)(step: Int => Seq[Long]): Seq[Row] =
    (0 until epochs).map(e => e.toLong -> step(e))

  /** Applies epoch `e`'s chunk of the log to `t`. */
  private def applyEpoch(spark: SparkSession, dir: String, t: IceLiteTable, e: Int): Unit =
    CdcApply.applyBatch(spark, t, spark.read.parquet(s"$dir/log").filter(col("chunk") === e).drop("chunk"),
      spec = spec, epoch = Some(("measure", e.toLong)))

  private def mor(spark: SparkSession, dir: String, epochs: Int): Result = {
    val t = IceLite.create(s"$dir/state", Schemas.transcript, spec.numBuckets)
    val rows = timedEpochs(epochs)(e =>
      Seq(ms(applyEpoch(spark, dir, t, e)), t.deltaFiles().distinct.size.toLong))
    Result(Seq("apply ms", "delta files"), rows, t)
  }

  private def ivm(spark: SparkSession, dir: String, epochs: Int): Result = {
    val src = IceLite.create(s"$dir/state", Schemas.transcript, spec.numBuckets)
    val vspec = IncrementalView.ViewSpec(
      dims = Seq("role" -> col("role")),
      sums = Seq("chars" -> length(col("text")).cast("long")))
    val view = IceLite.create(s"$dir/view", IncrementalView.viewSchema(spark, src, vspec), 16)
    val mirror = IceLite.create(s"$dir/mirror", Schemas.transcript, spec.numBuckets)
    val rows = timedEpochs(epochs) { e =>
      applyEpoch(spark, dir, src, e)
      Seq(ms(IncrementalView.refresh(spark, src, view, vspec, spec)),
        ms(Mirror.sync(spark, src, mirror, spec)),
        // the naive alternative the view replaces
        ms(src.read(spark).groupBy("role")
          .agg(count(lit(1)), sum(length(col("text")).cast("long"))).collect()),
        src.read(spark).count())
    }
    Result(Seq("view refresh ms", "mirror sync ms", "full recompute ms", "state rows"), rows, src)
  }

  private def meta(spark: SparkSession, dir: String, epochs: Int): Result = {
    val cfg = CdcStream.StreamConfig(s"$dir/log", s"$dir/state", s"$dir/ckpt",
      maxFilesPerTrigger = Some(LogFiles), eventLogTableDir = Some(s"$dir/eventlog"),
      maintenanceEvery = 32, keepSnapshots = 8)
    // keep every trigger's progress (Spark keeps the last 100); the
    // stream's session clones the setting when the query is created
    val retention = "spark.sql.streaming.numRecentProgressUpdates"
    val prior = spark.conf.getOption(retention)
    spark.conf.set(retention, 2L * epochs + 10)
    val q = try CdcStream.start(spark, cfg)
    finally prior.fold(spark.conf.unset(retention))(spark.conf.set(retention, _))
    q.awaitTermination()
    CdcStream.awaitMaintenance(cfg.checkpointDir)
    // numInputRows is 0 in drift mode (the batch re-reads its files), so
    // an epoch that carried data is one with an addBatch phase
    val rows = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      .map(p => p.batchId -> Seq(p.durationMs.get("triggerExecution").longValue))
    val snap = Files.list(Paths.get(cfg.tableDir, "snap"))
    val snapFiles = try snap.count() finally snap.close()
    Result(Seq("trigger ms"), rows, IceLite.load(cfg.tableDir),
      Seq(s"snapshot metadata files: $snapFiles (bounded by keepSnapshots and the maintenance cadence)"))
  }

  /** The markdown report. Head and tail are the medians of the first
    * and last third of the epochs, the first epoch dropped as warm-up
    * when there are four or more. */
  private def report(title: String, cols: Seq[String], rows: Seq[Row], notes: Seq[String]): String = {
    def line(cells: Seq[Any]): String = cells.mkString("| ", " | ", " |")
    def median(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
    val warm = if (rows.size >= 4) rows.drop(1) else rows
    val third = math.max(1, warm.size / 3)
    val summary = cols.indices.map { i =>
      val head = median(warm.take(third).map(_._2(i)))
      val tail = median(warm.takeRight(third).map(_._2(i)))
      line(Seq(cols(i), head, tail, f"${tail.toDouble / math.max(head, 1L)}%.2f"))
    }
    (Seq(title, "", line("epoch" +: cols), line(Seq.fill(cols.size + 1)("---"))) ++
      rows.map { case (e, v) => line(e +: v) } ++
      Seq("", line(Seq("column", "head median", "tail median", "tail / head")), line(Seq.fill(4)("---"))) ++
      summary ++ ("" +: notes)).mkString("\n")
  }
}
