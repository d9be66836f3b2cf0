package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench
import graft.gen.ChangeLogGen
import graft.model.{MergeSpec, Schemas}
import graft.operators.CdcApply
import graft.streaming.CdcStream
import graft.table.{IceLite, IceLiteTable}

/** The benchmark's JVM side: runs one closed-loop workload (one client,
  * the driver thread, waiting for each call before issuing the next),
  * times the calls into each layer's public functions, and writes what
  * it measured plus every output the oracle must check under `out/`.
  * `run.py` drives it, runs the oracle and prints the result; see
  * README.md in this directory for the workloads and the layer map.
  *
  * Usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <cores> <workDir> <t0 epoch ms> <lookupSeed>
  */
object PerfBench {

  // ---- sizes (see README.md, "Sizing") ----
  val ReplayEpochEvents = 300000L // replay_bulk: 2 epochs per pass, passes until the time is up
  val ReplayBuckets = 128
  val StreamBatchEvents = 8000L // stream_read: one micro-batch
  val StreamWarmBatches = 1
  val StreamSecondsPerBatch = 3 // measured micro-batches: one per this many --seconds
  val StreamCompactThreshold = 2 // compaction from the third epoch on, not from epoch 17
  val StreamCompactBudget = 2
  val StreamMaintenanceEvery = 2
  val InvalidPerMille = 5 // invalid envelopes injected into stream_read
  val StreamLookupsPerRound = 6
  val StreamScanEvery = 3
  val WarmEvents = 20000L

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
                        work: Path, t0Ms: Long, lookupSeed: Long)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1", argv(4).toInt,
      Paths.get(argv(5)).toAbsolutePath, argv(6).toLong, argv(7).toLong)
    val out = a.work.resolve("out")
    Files.createDirectories(out)
    val spark = Bench.session(a.cores, s"perfbench-${a.workload}")
    val res = new Result(a)
    res.context("session_s") = (System.currentTimeMillis() - a.t0Ms) / 1e3
    val tracer = new Tracer(spark, a.trace)
    try {
      a.workload match {
        case "replay_bulk"       => new ReplayBulk(spark, a, res, tracer).run()
        case "stream_read"       => new StreamRead(spark, a, res, tracer).run()
        case "query_suite"       => new QuerySuite(spark, a, res, tracer).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      tracer.close()
      if (a.trace) Files.writeString(out.resolve("spans.json"), tracer.spansJson)
      Files.writeString(out.resolve("result.json"), res.json)
      spark.stop()
    }
  }

  // ---------------------------------------------------------------------
  // Results
  // ---------------------------------------------------------------------

  /** What one run measured: `named` holds the end-to-end metrics (the
    * bounded ones of BENCHMARK.json among them), `layers` the per-layer
    * metrics of a traced run.
    */
  final class Result(a: Args) {
    val named = mutable.LinkedHashMap[String, (Double, String)]()
    val layers = mutable.LinkedHashMap[String, Double]()
    val context = mutable.LinkedHashMap[String, Any]()
    val errors = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L

    /** Run one timed operation; a throw counts as a failed operation. */
    def op[A](what: String)(f: => A): Option[A] = {
      attempted += 1
      try Some(f)
      catch { case e: Throwable =>
        failed += 1
        if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
      }
    }

    def json: String = Json.obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "lookup_seed" -> a.lookupSeed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "named" -> named.toSeq.map { case (k, (v, u)) => k -> Seq(v, u) },
      "layers" -> layers.toSeq, "context" -> context.toSeq))
  }

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def value(v: Any): String = v match {
      case null => "null"
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case f: Float => value(f.toDouble)
      case n: Int => n.toString
      case n: Long => n.toString
      case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
        obj(kv.asInstanceOf[Seq[(String, Any)]])
      case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
      case o => str(o.toString)
    }
    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val w = Files.walk(root)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
  }

  // ---------------------------------------------------------------------
  // Tracing: spans around the benchmark's calls into each layer, plus a
  // SparkListener that records every job's wall and its stages' task
  // metrics. Everything stays in memory and is written out at the end.
  // ---------------------------------------------------------------------

  final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long, durMs: Double)

  final case class StageM(var taskMs: Long = 0, var cpuMs: Double = 0, var gcMs: Long = 0,
                          var shWrite: Long = 0, var shRead: Long = 0, var spill: Long = 0,
                          var tasks: Int = 0, var recordsIn: Long = 0)

  final class JobRec(val id: Int, val desc: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val m = StageM()
  }

  final class Tracer(spark: SparkSession, val on: Boolean) {
    val runId: String = java.util.UUID.randomUUID().toString.take(8)
    private val spans = mutable.ArrayBuffer[Span]()
    private var stack = List.empty[Int]
    private var nextId = 0
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    val stages = new ConcurrentHashMap[Int, StageM]()

    private val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.scheduler._
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val d = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(j.jobId, new JobRec(j.jobId, d, j.time))
        j.stageIds.foreach(s => stageJob.putIfAbsent(s, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobs.get(j.jobId)).foreach(_.endMs = j.time)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val t = si.taskMetrics
        val s = StageM(t.executorRunTime, t.executorCpuTime / 1e6, t.jvmGCTime,
          t.shuffleWriteMetrics.bytesWritten, t.shuffleReadMetrics.totalBytesRead,
          t.memoryBytesSpilled + t.diskBytesSpilled, si.numTasks, t.inputMetrics.recordsRead)
        stages.put(si.stageId, s)
        Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { jr =>
          jr.m.synchronized {
            jr.m.taskMs += s.taskMs; jr.m.cpuMs += s.cpuMs; jr.m.gcMs += s.gcMs
            jr.m.shWrite += s.shWrite; jr.m.shRead += s.shRead; jr.m.spill += s.spill
            jr.m.tasks += s.tasks; jr.m.recordsIn += s.recordsIn
          }
        }
      }
    }
    if (on) spark.sparkContext.addSparkListener(listener)

    /** Time `f`; when tracing, also record it as a span under the
      * innermost open span. Returns the result and its duration in ms.
      */
    def span[A](name: String)(f: => A): (A, Double) = {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      // read and query spans label their jobs, which may run beside the
      // stream's; applyBatch keeps its own job descriptions
      val label = on && stack.isEmpty && (name.startsWith("table.") || name.startsWith("queries."))
      if (label) spark.sparkContext.setJobDescription(s"perfbench: $name")
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      stack = id :: stack
      try {
        val r = f
        val d = ms(t0)
        if (on) spans += Span(id, name, parent, s0, System.currentTimeMillis(), d)
        (r, d)
      } finally {
        stack = stack.tail
        if (label) spark.sparkContext.setJobDescription(null)
      }
    }

    /** Jobs labelled by spans named `name`. */
    def jobsLabelled(name: String): Seq[JobRec] =
      jobs.values.asScala.filter(_.desc == s"perfbench: $name").toSeq

    def spansNamed(n: String): Seq[Span] = spans.filter(_.name == n).toSeq

    /** Jobs that started inside [from, to] (epoch ms), any thread. */
    def jobsIn(from: Long, to: Long): Seq[JobRec] =
      jobs.values.asScala.filter(j => j.startMs >= from && j.startMs <= to).toSeq

    /** Give the listener bus time to deliver the last events. */
    def drain(): Unit = if (on) {
      val deadline = System.currentTimeMillis() + 5000
      while (System.currentTimeMillis() < deadline &&
        jobs.values.asScala.exists(_.endMs < 0)) Thread.sleep(20)
      Thread.sleep(200)
    }

    def close(): Unit = {
      if (on) spark.sparkContext.removeSparkListener(listener)
    }

    def spansJson: String = Json.value(spans.toSeq.map(s => Seq(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "run" -> runId)))
  }

  /** Length of the union of intervals clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var cur: (Long, Long) = null
    c.foreach { x =>
      if (cur == null) cur = x
      else if (x._1 <= cur._2) cur = (cur._1, math.max(cur._2, x._2))
      else { total += cur._2 - cur._1; cur = x }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }

  /** Peak old-generation occupancy after a collection, from GC notifications. */
  final class HeapWatch {
    @volatile var peakMb = 0.0
    private val handler = new javax.management.NotificationListener {
      override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
            if (pool.contains("Old Gen") || pool.contains("Tenured"))
              peakMb = math.max(peakMb, u.getUsed / 1048576.0)
          }
        }
    }
    private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def start(): Unit = beans.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
      .addNotificationListener(handler, null, null))
    def stop(): Double = {
      System.gc()
      Thread.sleep(100)
      beans.foreach(b => try b.asInstanceOf[javax.management.NotificationEmitter]
        .removeNotificationListener(handler) catch { case _: Exception => () })
      peakMb
    }
  }


  // ---------------------------------------------------------------------
  // Inputs: the benchmark's own change-log writer
  // ---------------------------------------------------------------------

  /** Write `ChangeLogGen`'s log under `dir`, cut into offset-ordered
    * chunks of `chunkEvents` offsets each, `filesPerChunk` files per chunk,
    * with chunk-staggered modification times so the streaming file source
    * admits chunks in offset order. When `invalidPerMille` > 0, that share
    * of events (by a seeded hash of the offset, so a duplicate delivery
    * stays identical to its original) becomes an invalid envelope: null
    * conv_id, null `after` on a non-delete, or an unknown op. Their
    * coordinates go to `injectedDir`. Returns the event count per chunk.
    */
  def writeLog(spark: SparkSession, cfg: ChangeLogGen.GenConfig, dir: String, chunkEvents: Long,
               filesPerChunk: Int, invalidPerMille: Int = 0, injectedDir: Option[String] = None): Map[Int, Long] = {
    val base = ChangeLogGen.events(spark, cfg)
    val log =
      if (invalidPerMille <= 0) base
      else {
        val bad = pmod(xxhash64(col("offset"), lit(cfg.seed + 101)), lit(1000L)) < invalidPerMille
        val kind = pmod(xxhash64(col("offset"), lit(cfg.seed + 102)), lit(3L))
        val tagged = base.withColumn("_bad", bad).withColumn("_kind", kind)
        injectedDir.foreach(d => tagged.filter(col("_bad"))
          .select(col("partition"), col("offset"), col("_kind").as("kind"))
          .write.mode("overwrite").parquet(d))
        tagged.select(
          col("partition"), col("offset"), col("ts"),
          when(col("_bad") && col("_kind") === 2, lit("merge"))
            .when(col("_bad") && col("_kind") === 1 && col("op") === "delete", lit("insert"))
            .otherwise(col("op")).as("op"),
          when(col("_bad") && col("_kind") === 0, lit(null).cast("string")).otherwise(col("conv_id")).as("conv_id"),
          col("turn_idx"),
          when(col("_bad") && col("_kind") === 1, lit(null)).otherwise(col("after")).as("after"),
          col("schema_v"))
      }
    val nChunks = ((cfg.numEvents + chunkEvents - 1) / chunkEvents).toInt
    log.withColumn("chunk", (col("offset") / chunkEvents).cast("int"))
      .repartition(nChunks * filesPerChunk,
        (if (filesPerChunk > 1) Seq(col("chunk"), col("partition")) else Seq(col("chunk"))): _*)
      .sortWithinPartitions("partition", "offset")
      .write.mode("overwrite").partitionBy("chunk").parquet(dir)
    val root = Paths.get(dir)
    val t = Files.getLastModifiedTime(root).toMillis
    Files.list(root).iterator.asScala.filter(_.getFileName.toString.startsWith("chunk=")).foreach { cdir =>
      val c = cdir.getFileName.toString.stripPrefix("chunk=").toInt
      Files.list(cdir).iterator.asScala.foreach(f =>
        Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(t + c * 10000L)))
    }
    spark.read.parquet(dir).groupBy("chunk").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  def genConfig(seed: Long, events: Long, partitions: Int): ChangeLogGen.GenConfig =
    ChangeLogGen.GenConfig(numEvents = events, numConvs = math.max(100, (events / 100).toInt),
      maxTurns = 50, logPartitions = partitions, seed = seed)

  def chunkOf(spark: SparkSession, logDir: String, c: Int): DataFrame =
    spark.read.parquet(logDir).filter(col("chunk") === c).drop("chunk")

  /** Untimed warm-up of the CDC write path on a small log (codegen and JIT
    * otherwise land on the first timed epoch).
    */
  def warmCdc(spark: SparkSession, a: Args, buckets: Int): Unit = {
    val d = a.work.resolve("warm").toString
    writeLog(spark, genConfig(a.seed + 1000, WarmEvents, 4), s"$d/log", WarmEvents / 2, 4)
    val t = IceLite.create(s"$d/t", Schemas.transcript, buckets)
    (0 to 1).foreach(c => CdcApply.applyBatch(spark, t, chunkOf(spark, s"$d/log", c),
      spec = MergeSpec(numBuckets = buckets), epoch = Some(("warm", c.toLong))))
    Bench.deleteRecursively(d)
  }

  def setupDone(a: Args, res: Result): Unit =
    res.context("setup_s") = (System.currentTimeMillis() - a.t0Ms) / 1e3

  /** Oracle inputs for run.py: what to compare and where it is. */
  def writeCheck(a: Args, kind: String, kv: Seq[(String, Any)]): Unit =
    Files.writeString(a.work.resolve("out").resolve("check.json"), Json.obj(("kind" -> kind) +: kv))

  /** Engine-side table facts of the CDC workloads. */
  def tableFacts(t: IceLiteTable, res: Result, events: Long, bytesBefore: Long): Unit = {
    val versions = t.versions
    val snaps = versions.map(t.snapshot)
    val cur = t.current
    val live = (cur.files.values.flatten ++ cur.deltas.values.flatten)
      .map(r => Files.size(Paths.get(t.dir).resolve(r))).sum
    res.layers("table.commits") = snaps.count(_.metrics.contains("eventsApplied")).toDouble
    res.layers("table.compactions") = snaps.count(_.metrics.contains("bucketsCompacted")).toDouble
    res.layers("table.buckets_compacted") = snaps.flatMap(_.metrics.get("bucketsCompacted")).sum.toDouble
    res.layers("table.max_deltas_per_bucket") =
      if (cur.deltas.isEmpty) 0.0 else cur.deltas.values.map(_.size).max.toDouble
    res.layers("table.delta_files") = cur.deltas.values.map(_.size).sum.toDouble
    res.layers("table.base_files") = cur.files.values.map(_.size).sum.toDouble
    res.layers("table.bytes_added_per_event") =
      (dirBytes(s"${t.dir}/data") - bytesBefore).toDouble / math.max(1L, events)
    res.layers("table.live_bytes") = live.toDouble
    res.layers("table.metadata_bytes") = dirBytes(s"${t.dir}/snap").toDouble
    res.layers("table.snapshots_retained") = versions.size.toDouble
    res.context("live_bytes") = live
  }

  /** Final-state output for the oracle (untimed) and the space metric. */
  def dumpFinal(spark: SparkSession, t: IceLiteTable, res: Result, out: Path): Unit = {
    val t0 = System.nanoTime()
    IceLite.load(t.dir).current
    res.layers("table.open_ms") = ms(t0)
    t.read(spark).write.mode("overwrite").parquet(out.resolve("final").toString)
    val rows = spark.read.parquet(out.resolve("final").toString).count()
    res.context("live_rows") = rows
    val live = res.context.getOrElse("live_bytes", 0L).asInstanceOf[Long]
    res.named("live_bytes_per_row") = (live.toDouble / math.max(1L, rows), "bytes/row")
  }

  /** Spark-wide task metrics of the stages that completed in the measured phase. */
  def sparkLayer(tr: Tracer, res: Result, stagesBefore: Set[Int], wallMs: Double, from: Long, to: Long): Unit = {
    val st = tr.stages.asScala.filter { case (id, _) => !stagesBefore(id) }.values.toSeq
    val taskMs = st.map(_.taskMs).sum.toDouble
    res.layers("spark.task_ms") = taskMs
    res.layers("spark.cpu_ms") = st.map(_.cpuMs).sum
    res.layers("spark.gc_ms") = st.map(_.gcMs).sum.toDouble
    res.layers("spark.avg_concurrency") = taskMs / math.max(1.0, wallMs)
    res.layers("spark.jobs") = tr.jobsIn(from, to).size.toDouble
    res.layers("spark.stages") = st.size.toDouble
    res.layers("spark.tasks") = st.map(_.tasks).sum.toDouble
    res.layers("spark.shuffle_write_bytes") = st.map(_.shWrite).sum.toDouble
    res.layers("spark.spill_bytes") = st.map(_.spill).sum.toDouble
  }

  /** Noise context: a CPU spin and a memory-bandwidth probe. */
  def probes(res: Result, when: String): Unit = {
    res.context(s"spin_ms_$when") = Bench.spinProbeMs()
    res.context(s"mem_gbs_$when") = Bench.memProbeGBs()
  }

  /** Per-epoch attribution of applyBatch windows to job groups (by the job
    * descriptions CdcApply sets) and the driver-only remainder.
    */
  def operatorsLayer(tr: Tracer, res: Result, applySpans: Seq[Span]): Unit = {
    def group(d: String): String =
      if (d.startsWith("cdc: fold + delta write")) "fold_write"
      else if (d == "cdc: planning aggregate") "planning"
      else if (d == "cdc: wipe count") "wipe"
      else if (d.isEmpty) "unlabelled"
      else "other"
    val groups = Seq("fold_write", "planning", "wipe", "unlabelled")
    type E = (Span, Map[String, (Double, Seq[JobRec])], Double)
    val per: Seq[E] = applySpans.map { s =>
      val js = tr.jobsIn(s.startMs, s.endMs).filter(j => group(j.desc) != "other")
      def wall(jj: Seq[JobRec]) = unionMs(jj.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)),
        s.startMs, s.endMs).toDouble
      val byG = groups.map { g => val gj = js.filter(j => group(j.desc) == g); g -> (wall(gj), gj) }.toMap
      (s, byG, s.durMs - wall(js))
    }
    def p50(f: E => Double) = median(per.map(f))
    def jm(g: String, f: StageM => Double)(e: E) = e._2(g)._2.map(j => f(j.m)).sum
    res.layers("operators.apply_ms") = p50(_._1.durMs)
    res.layers("operators.apply_self_ms") = p50(_._3)
    res.layers("operators.fold_write.wall_ms") = p50(_._2("fold_write")._1)
    res.layers("operators.fold_write.task_ms") = p50(jm("fold_write", _.taskMs.toDouble))
    res.layers("operators.fold_write.shuffle_write_bytes") = p50(jm("fold_write", _.shWrite.toDouble))
    res.layers("operators.fold_write.shuffle_read_bytes") = p50(jm("fold_write", _.shRead.toDouble))
    res.layers("operators.fold_write.spill_bytes") = p50(jm("fold_write", _.spill.toDouble))
    res.layers("operators.fold_write.avg_concurrency") =
      p50(e => jm("fold_write", _.taskMs.toDouble)(e) / math.max(1.0, e._2("fold_write")._1))
    res.layers("operators.fold_write.tasks") = p50(jm("fold_write", _.tasks.toDouble))
    res.layers("operators.planning.wall_ms") = p50(_._2("planning")._1)
    res.layers("operators.planning.task_ms") = p50(jm("planning", _.taskMs.toDouble))
    res.layers("operators.wipe.wall_ms") = p50(_._2("wipe")._1)
    res.layers("operators.wipe.task_ms") = p50(jm("wipe", _.taskMs.toDouble))
    res.layers("operators.unlabelled.wall_ms") = p50(_._2("unlabelled")._1)
    res.layers("operators.unlabelled.task_ms") = p50(jm("unlabelled", _.taskMs.toDouble))
    res.layers("operators.gc_ms") = per.map(e => groups.map(g => jm(g, _.gcMs.toDouble)(e)).sum).sum
    // planning runs beside the fold write, so the serial sum leaves it out
    res.layers("operators.attribution_closure") = median(per.map { case (s, byG, self) =>
      (Seq("fold_write", "wipe", "unlabelled").map(byG(_)._1).sum + self) / math.max(1.0, s.durMs)
    })
  }

  def opCounts(res: Result, seen: Long, written: Long, rejected: Long): Unit = {
    res.layers("operators.events_seen") = seen.toDouble
    res.layers("operators.rows_written") = written.toDouble
    res.layers("operators.net_action_ratio") = written.toDouble / math.max(1L, seen)
    res.layers("operators.rejected") = rejected.toDouble
  }

  /** The measured phase's bracket: probes, heap watch, stage and time marks. */
  final class Measured(spark: SparkSession, res: Result, tr: Tracer) {
    probes(res, "pre")
    private val heap = new HeapWatch
    heap.start()
    val stagesBefore: Set[Int] = tr.stages.keySet().asScala.toSet
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val cpu0 = os.getProcessCpuTime
    // task counts and shuffle volume of the measured phase, traced or not
    private val work = new java.util.concurrent.atomic.AtomicLongArray(3)
    private val workListener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        work.addAndGet(0, sc.stageInfo.numTasks)
        work.addAndGet(1, sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        work.addAndGet(2, sc.stageInfo.taskMetrics.executorCpuTime)
      }
    }
    spark.sparkContext.addSparkListener(workListener)
    val from: Long = System.currentTimeMillis()
    val t0: Long = System.nanoTime()
    var wallMs = 0.0
    var to = 0L
    def end(): Unit = {
      wallMs = ms(t0)
      to = System.currentTimeMillis()
      res.named("cpu_s") = ((os.getProcessCpuTime - cpu0) / 1e9, "s")
      Thread.sleep(300) // listener bus drain
      spark.sparkContext.removeSparkListener(workListener)
      res.named("tasks") = (work.get(0).toDouble, "count")
      res.named("shuffle_bytes") = (work.get(1).toDouble, "bytes")
      res.named("task_cpu_s") = (work.get(2) / 1e9, "s")
      res.named("peak_heap_mb") = (heap.stop(), "MB")
      probes(res, "post")
    }
    def spark(): Unit = sparkLayer(tr, res, stagesBefore, wallMs, from, to)
  }

  // ---------------------------------------------------------------------
  // Workloads
  // ---------------------------------------------------------------------

  /** One generated log replayed into an empty table by `applyBatch`, two
    * large epochs per pass, passes repeated until the time is up.
    */
  final class ReplayBulk(spark: SparkSession, a: Args, res: Result, tr: Tracer) {
    def run(): Unit = {
      val logDir = a.work.resolve("log").toString
      warmCdc(spark, a, ReplayBuckets)
      val byChunk = writeLog(spark, genConfig(a.seed, 2 * ReplayEpochEvents, 2 * a.cores), logDir,
        ReplayEpochEvents, a.cores)
      setupDone(a, res)

      val m = new Measured(spark, res, tr)
      val deadline = m.t0 + a.seconds * 1000000000L
      val epochMs = mutable.ArrayBuffer[Double]()
      var events, seen, written, rejected = 0L
      var pass = 0
      var last: IceLiteTable = null
      while (pass == 0 || System.nanoTime() < deadline) {
        val t = IceLite.create(a.work.resolve(s"t$pass").toString, Schemas.transcript, ReplayBuckets)
        (0 to 1).foreach { c =>
          res.op(s"applyBatch pass $pass epoch $c") {
            val (r, d) = tr.span("operators.applyBatch")(CdcApply.applyBatch(spark, t, chunkOf(spark, logDir, c),
              spec = MergeSpec(numBuckets = ReplayBuckets), epoch = Some(("bench", c.toLong))))
            epochMs += d; events += byChunk(c)
            seen += r.eventsSeen; written += r.rowsWritten; rejected += r.rejected
          }
        }
        if (last != null) Bench.deleteRecursively(last.dir)
        last = t
        pass += 1
      }
      m.end()

      val evps = events / (epochMs.sum / 1e3)
      res.named("replay_events_per_s") = (evps, "events/s")
      res.named("replay_epoch_p50_ms") = (median(epochMs.toSeq), "ms")
      res.context("passes") = pass
      res.context("epoch_ms") = epochMs.toSeq

      tableFacts(last, res, byChunk.values.sum, 0L)
      if (tr.on) {
        tr.drain()
        operatorsLayer(tr, res, tr.spansNamed("operators.applyBatch"))
        opCounts(res, seen, written, rejected)
        m.spark()
      }
      dumpFinal(spark, last, res, a.work.resolve("out"))
      res.attempted += 1 // the final-state oracle check
      writeCheck(a, "cdc", Seq("log" -> logDir, "upto_chunk" -> 1))
    }
  }

  /** `CdcStream` tailing a log in micro-batches (the reference's operating
    * mode, a sink tailing topics), then point lookups, change-feed reads
    * and full-state scans on the versions its micro-batches committed.
    */
  final class StreamRead(spark: SparkSession, a: Args, res: Result, tr: Tracer) {
    final case class Progress(runId: java.util.UUID, batchMs: Double, dur: Map[String, Double], startMs: Long)
    private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
    private val qListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        // a trigger that found no new file runs no batch and has no addBatch
        if (p.durationMs.containsKey("addBatch"))
          progress.add(Progress(p.runId, p.batchDuration.toDouble,
            p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap,
            java.time.Instant.parse(p.timestamp).toEpochMilli))
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.add(e.runId)
    }

    def run(): Unit = {
      val root = a.work.resolve("stream")
      val staging = root.resolve("staging")
      val logDir = root.resolve("log")
      val nBatches = StreamWarmBatches + math.max(3, a.seconds / StreamSecondsPerBatch)
      val byChunk = writeLog(spark, genConfig(a.seed, StreamBatchEvents * nBatches, 2 * a.cores), staging.toString,
        StreamBatchEvents, 1, InvalidPerMille, Some(root.resolve("injected").toString))
      // a chunk becomes visible to the stream when it moves into the log dir
      Files.createDirectories(logDir)
      def publish(cs: Range): Unit = cs.foreach(c =>
        Files.move(staging.resolve(s"chunk=$c"), logDir.resolve(s"chunk=$c")))
      val convsByChunk: Map[Int, Array[String]] = spark.read.parquet(staging.toString)
        .filter(col("conv_id").isNotNull).groupBy("chunk").agg(sort_array(collect_set("conv_id")).as("cs"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toArray).toMap
      val numConvs = genConfig(a.seed, StreamBatchEvents * nBatches, 1).numConvs
      val buckets: Map[String, Int] = spark.range(numConvs.toLong)
        .select(concat(lit("c"), lpad(col("id").cast("string"), 8, "0")).as("c"))
        .select(col("c"), IceLite.bucketOf(col("c"), MergeSpec().numBuckets).as("b"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      val allConvs = buckets.keys.toArray.sorted
      val cfg = CdcStream.StreamConfig(
        logDir = logDir.toString, tableDir = root.resolve("table").toString,
        checkpointDir = root.resolve("ckpt").toString, streamId = "bench",
        spec = MergeSpec(morCompactThreshold = StreamCompactThreshold, morCompactBudget = StreamCompactBudget),
        maxFilesPerTrigger = Some(1),
        rejectedDir = Some(root.resolve("rejected").toString),
        eventLogTableDir = Some(root.resolve("eventlog").toString),
        maintenanceEvery = StreamMaintenanceEvery,
        // every snapshot stays readable: reads pin versions, and per-commit
        // engine counts are summed at the end
        keepSnapshots = 1000)

      // warm-up: the sink's first micro-batches, then one of each read (untimed)
      publish(0 until StreamWarmBatches)
      val t = CdcStream.runAvailable(spark, cfg)
      val rng = new scala.util.Random(a.lookupSeed)
      val lookupRows = mutable.ArrayBuffer[Row]()
      val lookupKeys = mutable.ArrayBuffer[(Long, String, Int)]()
      val scans = mutable.ArrayBuffer[(Int, Long)]()
      val lookupMs, feedMs, scanMs, planMs, execMs, filesPer = mutable.ArrayBuffer[Double]()
      var returned, feedRows = 0L
      def appliedChunk(v: Long): Int = t.snapshot(v).properties("epoch:bench").toInt

      // reads pin a version: a lookup and a scan see the state after the
      // micro-batches that version had applied, which the oracle re-folds
      def lookup(v: Long, record: Boolean): Unit = {
        val chunk = appliedChunk(v)
        val touched = convsByChunk.getOrElse(chunk, Array.empty[String])
        val conv =
          if (lookupKeys.size % 2 == 0 && touched.nonEmpty) touched(rng.nextInt(touched.length))
          else allConvs(rng.nextInt(allConvs.length))
        val b = buckets(conv)
        val id = lookupKeys.size.toLong
        lookupKeys += ((id, conv, chunk))
        res.op(s"lookup $conv@v$v") {
          val (rows, d) = tr.span("table.lookup") {
            val (df, p) = tr.span("table.read_plan")(t.readAt(spark, v, Some(Set(b))).filter(col("conv_id") === conv))
            val (rs, e) = tr.span("table.read_exec")(df.collect())
            if (record) { planMs += p; execMs += e }
            rs
          }
          if (record) {
            lookupMs += d
            val s = t.snapshot(v)
            filesPer += (s.files.getOrElse(b, Nil).size + s.deltas.getOrElse(b, Nil).size).toDouble
            returned += rows.length
          }
          rows.foreach(r => lookupRows += Row.fromSeq(id +: r.toSeq))
        }
      }
      def feed(from: Long, to: Long): Unit = res.op(s"readChanges v$from-v$to") {
        val (n, d) = tr.span("table.readChanges")(t.readChanges(spark, from, to).count())
        val want = (from + 1 to to).map(t.snapshot).filter(_.metrics.contains("deltaFilesAdded"))
          .map(_.metrics("rowsWritten")).sum
        feedMs += d; feedRows += n
        if (n != want) throw new IllegalStateException(s"feed returned $n rows, commits wrote $want")
      }
      def scan(v: Long): Unit = res.op(s"state scan v$v") {
        val (n, d) = tr.span("table.scan")(t.readAt(spark, v).count())
        scanMs += d
        scans += ((appliedChunk(v), n))
      }
      val vWarm = t.currentVersion
      lookup(vWarm, record = false); feed(vWarm - 1, vWarm); scan(vWarm)
      feedMs.clear(); scanMs.clear(); feedRows = 0L
      setupDone(a, res)

      publish(StreamWarmBatches until nBatches)
      spark.streams.addListener(qListener)
      val bytesBefore = dirBytes(s"${t.dir}/data")
      val m = new Measured(spark, res, tr)
      val q = CdcStream.start(spark, cfg)
      res.op("stream")(q.awaitTermination())
      CdcStream.awaitMaintenance(cfg.checkpointDir)
      val streamMs = ms(m.t0)
      // the reader follows the commits: after each timed micro-batch, point
      // lookups and a change-feed read on the version that applied it,
      // and every few micro-batches a full-state count. Run after the
      // stream, so reads and writes are each timed without the other.
      val applied = t.versions.filter(_ > vWarm).groupBy(appliedChunk).map { case (c, vs) => c -> vs.max }
      (StreamWarmBatches until nBatches).foldLeft(vWarm) { (vPrev, c) =>
        val v = applied.getOrElse(c, vPrev)
        (0 until StreamLookupsPerRound).foreach(_ => lookup(v, record = true))
        if (v > vPrev) feed(vPrev, v)
        if ((c - StreamWarmBatches) % StreamScanEvery == StreamScanEvery - 1) scan(v)
        v
      }
      m.end()
      val deadline = System.currentTimeMillis() + 10000
      while (!terminated.contains(q.runId) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      spark.streams.removeListener(qListener)
      val ps = progress.asScala.toSeq.filter(_.runId == q.runId)
      res.attempted += ps.size

      val events = (StreamWarmBatches until nBatches).map(c => byChunk.getOrElse(c, 0L)).sum
      val batch = ps.map(_.batchMs)
      val evps = events / (streamMs / 1e3)
      res.named("stream_events_per_s") = (evps, "events/s")
      res.named("stream_epoch_p50_ms") = (median(batch), "ms")
      res.named("stream_epoch_p75_ms") = (pct(batch, 0.75), "ms")
      res.named("lookup_p50_ms") = (median(lookupMs.toSeq), "ms")
      res.named("lookup_p90_ms") = (pct(lookupMs.toSeq, 0.9), "ms")
      res.named("feed_read_p50_ms") = (median(feedMs.toSeq), "ms")
      res.named("state_scan_s") = (median(scanMs.toSeq) / 1e3, "s")
      res.context("epochs") = ps.size
      res.context("lookups") = lookupMs.size
      res.context("feeds") = feedMs.size
      res.context("scans") = scanMs.size
      res.context("epoch_ms") = batch

      val snaps = t.versions.map(t.snapshot).filter(_.metrics.contains("eventsApplied"))
      val rejected = snaps.map(_.metrics.getOrElse("rejected", 0L)).sum
      tableFacts(t, res, events, bytesBefore)
      res.layers("table.eventlog_files") = IceLite.load(root.resolve("eventlog").toString).dataFiles().size.toDouble
      if (tr.on) {
        tr.drain()
        def mean(k: String) = ps.map(_.dur.getOrElse(k, 0.0)).sum / math.max(1, ps.size)
        def p50(k: String) = median(ps.map(_.dur.getOrElse(k, 0.0)))
        // means, so that add_batch + overhead = trigger holds exactly
        res.layers("streaming.trigger_ms") = mean("triggerExecution")
        res.layers("streaming.add_batch_ms") = mean("addBatch")
        res.layers("streaming.overhead_ms") = mean("triggerExecution") - mean("addBatch")
        res.layers("streaming.latest_offset_ms") = p50("latestOffset")
        res.layers("streaming.query_planning_ms") = p50("queryPlanning")
        res.layers("streaming.wal_commit_ms") = p50("walCommit")
        res.layers("streaming.commit_offsets_ms") = p50("commitOffsets")
        res.layers("streaming.rows_per_epoch") = median(snaps.drop(StreamWarmBatches).map(_.metrics("eventsApplied").toDouble))
        // foreachBatch calls applyBatch out of the benchmark's reach: each
        // trigger's window stands in for its applyBatch span
        operatorsLayer(tr, res, ps.map(p => Span(0, "streaming.trigger", 0, p.startMs,
          p.startMs + p.dur.getOrElse("triggerExecution", 0.0).toLong, p.dur.getOrElse("triggerExecution", 0.0))))
        val mine = snaps.drop(StreamWarmBatches)
        opCounts(res, mine.map(_.metrics("eventsApplied")).sum, mine.map(_.metrics("rowsWritten")).sum,
          mine.map(_.metrics.getOrElse("rejected", 0L)).sum)
        val lj = tr.jobsLabelled("table.lookup")
        val sj = tr.jobsLabelled("table.scan")
        val fj = tr.jobsLabelled("table.readChanges")
        res.layers("table.read_plan_ms") = median(planMs.toSeq)
        res.layers("table.read_exec_ms") = median(execMs.toSeq)
        res.layers("table.read_files_per_lookup") = median(filesPer.toSeq)
        res.layers("table.read_rows_scanned_per_row_returned") =
          lj.map(_.m.recordsIn).sum.toDouble / math.max(1L, returned)
        res.layers("table.read_task_ms") = lj.map(_.m.taskMs).sum.toDouble / math.max(1, lookupKeys.size)
        res.layers("table.read_shuffle_bytes") = lj.map(_.m.shWrite).sum.toDouble / math.max(1, lookupKeys.size)
        res.layers("table.scan_task_ms") = sj.map(_.m.taskMs).sum.toDouble / math.max(1, scans.size)
        res.layers("table.scan_shuffle_bytes") = sj.map(_.m.shWrite).sum.toDouble / math.max(1, scans.size)
        res.layers("table.feed_rows") = feedRows.toDouble / math.max(1, feedMs.size)
        res.layers("table.feed_task_ms") = fj.map(_.m.taskMs).sum.toDouble / math.max(1, feedMs.size + 1)
        m.spark()
      }

      // oracle inputs (untimed)
      val out = a.work.resolve("out")
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("lookup_id", org.apache.spark.sql.types.LongType) +:
          t.schema.fields.toSeq)
      spark.createDataFrame(lookupRows.asJava, schema).write.mode("overwrite").parquet(out.resolve("lookup_rows").toString)
      import spark.implicits._
      lookupKeys.toSeq.toDF("lookup_id", "conv_id", "upto_chunk").write.mode("overwrite")
        .parquet(out.resolve("lookups").toString)
      scans.toSeq.toDF("upto_chunk", "n").write.mode("overwrite").parquet(out.resolve("scans").toString)
      dumpFinal(spark, t, res, out)
      res.attempted += 2 // final-state and quarantine checks
      writeCheck(a, "cdc", Seq("log" -> logDir.toString, "upto_chunk" -> (nBatches - 1),
        "lookups" -> out.resolve("lookups").toString, "lookup_rows" -> out.resolve("lookup_rows").toString,
        "scans" -> out.resolve("scans").toString, "rejected" -> root.resolve("rejected").toString,
        "injected" -> root.resolve("injected").toString, "engine_rejected" -> rejected))
    }
  }

  /** The 52 `SparkEntry.queries` on generated tables, each run once in the
    * fresh session and timed from the call to its result written out (the
    * oracle reads those results).
    */
  final class QuerySuite(spark: SparkSession, a: Args, res: Result, tr: Tracer) {
    def run(): Unit = {
      val dataDir = a.work.resolve("qdata").toString
      val out = a.work.resolve("out").resolve("q")
      val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      // session warm-up (untimed): the first scan, aggregate, join and write
      // of the JVM would otherwise land on whichever query runs first
      val li = spark.read.parquet(s"$dataDir/lineitem.parquet")
      li.join(spark.read.parquet(s"$dataDir/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum("l_quantity")).write.mode("overwrite")
        .parquet(a.work.resolve("warm").toString)
      setupDone(a, res)

      val m = new Measured(spark, res, tr)
      val perQuery = qs.flatMap { case (name, fn) =>
        res.op(name) {
          val (_, d) = tr.span(s"queries.$name")(
            fn(spark, dataDir).write.mode("overwrite").parquet(out.resolve(name).toString))
          name -> d
        }
      }
      m.end()

      val ms = perQuery.map(_._2)
      res.named("queries_total_s") = (ms.sum / 1e3, "s")
      res.named("query_p50_ms") = (median(ms), "ms")
      res.named("query_max_ms") = (ms.max, "ms")
      res.context("query_ms") = perQuery
      if (tr.on) {
        tr.drain()
        perQuery.foreach { case (n, v) => res.layers(s"queries.${n}_ms") = v }
        m.spark()
      }
      Files.writeString(a.work.resolve("out").resolve("oracle_sql.json"),
        Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)))
      writeCheck(a, "queries", Seq("data" -> dataDir, "results" -> out.toString))
    }
  }
}
