package graft

import org.apache.spark.sql.SparkSession

/** Dev-only stage profiler for the CDC replay (not part of the contract).
  * Usage: PROF_MASTER=local[32] PROF_SHUFFLE=96 PROF_FOLDS=key,bucket runMain graft.ProfileReplay <events>
  */
object ProfileReplay {
  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toLong).getOrElse(8000000L)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("PROF_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("PROF_SHUFFLE", "96"))
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("PROF_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Bench.localDirs())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      // stage -> owning job's description (stage names are all lambda
      // call sites; the description set by CdcApply is the useful label)
      private val stageDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(j.properties).map(_.getProperty("spark.job.description")).orNull
        if (d != null) j.stageIds.foreach(id => stageDesc.put(id, d))
      }
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
        val cpuSum = si.taskMetrics.executorRunTime / 1e3
        val label = Option(stageDesc.get(si.stageId)).getOrElse(si.name.take(50))
        println(f"[stage] id=${si.stageId}%3d tasks=${si.numTasks}%4d wall=$wall%6.2fs taskSum=$cpuSum%7.1fs avgConc=${cpuSum / math.max(wall, 0.01)}%5.1f  $label")
      }
    })

    val warm = java.nio.file.Files.createTempDirectory(Bench.tmpBase, "prof-warm").toString
    Bench.replay(spark, 500000L, 1, 128, warm)
    Bench.deleteRecursively(warm)
    // each entry is a MergeSpec.foldAlignment value
    val alignments = sys.env.getOrElse("PROF_FOLDS", "key,bucket").split(",").map(_.trim)
    val nBatches = sys.env.getOrElse("PROF_BATCHES", "2").toInt
    (1 to sys.env.getOrElse("PROF_REPEATS", "1").toInt).foreach { rep =>
      alignments.foreach { f =>
        println(s"[prof] ===== run $rep fold=$f =====")
        val logDir = java.nio.file.Files.createTempDirectory(Bench.tmpBase, "prof-log").toString
        val sec = Bench.replay(spark, nEvents, numBatches = nBatches, buckets = 128, logDir = logDir,
          spec = graft.model.MergeSpec(numBuckets = 128, foldAlignment = f)).sum
        println(f"[prof] run $rep fold=$f: $nEvents events in $sec%.1fs = ${nEvents / sec}%.0f ev/s")
        Bench.deleteRecursively(logDir)
      }
    }
    spark.stop()
  }
}
