package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.MergeSpec
import graft.table.{IceLite, IceLiteTable}

/** The append-only event-log half of the event store (the reference's
  * plain INSERT mode, `/root/reference/src/main/java/io/confluent/connect/jdbc/sink/BufferedRecords.java:362-371`
  * + PG COPY bulk path `.../dialect/BulkLoadPreparedStatement.java:443-504`):
  * every change event is appended as a row — no merge, no dedupe — with
  * the Kafka coordinates carried as lineage columns `(_partition, _offset)`
  * (the reference's optional `connect_*` columns,
  * `.../sink/JdbcSinkConfig.java:52-59`, `.../metadata/FieldsMetadata.java:164-220`).
  *
  * Pure append = new files added to buckets; existing files are never
  * rewritten, so commits are O(batch), not O(state). Exactly-once via the
  * same epoch property mechanism as the merge path. A batch scanned in
  * one task appends ONE file, listed under every bucket its rows hash
  * to; a read keeps from it only the rows of the read buckets that still
  * list it ([[graft.table.IceLite.BucketFiles]]). Any other batch appends
  * one file per bucket.
  */
object EventLogApply {

  /** Log-table row schema: op + flattened key + after-struct + lineage. */
  def logSchema(turnSchema: StructType): StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("op", StringType),
      StructField("conv_id", StringType),
      StructField("turn_idx", IntegerType),
      StructField("after", turnSchema),
      StructField("ts", TimestampType),
      StructField("_partition", IntegerType),
      StructField("_offset", LongType)))
  }

  def appendBatch(
      spark: SparkSession,
      table: IceLiteTable,
      events: DataFrame,
      spec: MergeSpec = MergeSpec(),
      epoch: Option[(String, Long)] = None): CdcApply.BatchResult = {

    // fields.whitelist applies to EVERY landed surface: the raw event log
    // keeping dropped (PII) columns would defeat the knob's purpose
    val events0 = CdcApply.whitelistFields(events, spec)

    val snap0 = table.current
    epoch.foreach { case (sid, bid) =>
      val last = snap0.properties.get(s"epoch:$sid").map(_.toLong)
      if (last.exists(_ >= bid))
        return CdcApply.BatchResult(snap0, skipped = true, 0L, 0L, 0L)
    }

    // Evolve the log table's schema when the batch's after-struct carries
    // drift columns: the ALTER-ADD merge runs FIELD-WISE on the nested
    // after struct (comparing the struct as one opaque type would reject
    // both drift adds and harmless nested-nullability differences).
    // Resolved against the commit-time parent (CAS-safe under retry).
    val incomingAfter = events0.schema("after").dataType.asInstanceOf[StructType]
    def evolveFrom(parent: IceLite.Snapshot): StructType = {
      val curAfter = org.apache.spark.sql.types.DataType
        .fromJson(parent.schemaJson).asInstanceOf[StructType]("after")
        .dataType.asInstanceOf[StructType]
      graft.table.SchemaEvolution.merge(curAfter, incomingAfter) match {
        case Right(s)     => logSchema(s)
        case Left(reason) => throw new IllegalArgumentException(s"schema rejected: $reason")
      }
    }

    val rows = events0.select(
      col("op"), col("conv_id"), col("turn_idx"), col("after"), col("ts"),
      col("partition").as("_partition"), col("offset").as("_offset"))

    // bucket layout pinned once; the commit re-checks it (rebucket fence:
    // appending files staged under an old layout would break pruning)
    val nb0 = table.numBuckets

    // A batch scanned in one task (MergeEngine.plansOneTask) is
    // appended from that task as ONE file, listed under every bucket its
    // rows hash to (IceLiteTable.stageEpochFile): the rebalance would
    // only scatter and gather the rows, and a file per bucket costs more
    // to write than the rows in it. Any other batch is rebalanced onto
    // the bucket key and written one file per bucket.
    val bucketed = rows.withColumn("bucket", MergeEngine.bucketOf(col("conv_id"), nb0))
    val stage = table.newStageDir()
    val options = Map("compression" -> "zstd", "parquet.bloom.filter.enabled#conv_id" -> "true")
    val sortCols = Seq("conv_id", "turn_idx", "_offset")
    val staged =
      if (MergeEngine.plansOneTask(events0))
        table.stageEpochFile(spark, bucketed.coalesce(1), stage, sortCols, options)
      else {
        bucketed.hint("rebalance", "bucket").sortWithinPartitions(("bucket" +: sortCols).map(col): _*)
          .write.mode("overwrite").options(options)
          .partitionBy("bucket").parquet(stage.toString)
        table.stagedFilesByBucket(stage)
      }
    // footer-only count, driver-side — no Spark job in the append path
    val rowsWritten = CdcApply.footerRowCount(spark, staged.values.flatten.toSeq.distinct.map(r => s"${table.dir}/$r"))
    Option(CdcApply.testOnStaged.getAndSet(null)).foreach(_.apply())

    object AlreadyApplied extends Exception
    try {
      val snap = table.commit { parent =>
        epoch.foreach { case (sid, bid) =>
          val last = parent.properties.get(s"epoch:$sid").map(_.toLong)
          if (last.exists(_ >= bid)) throw AlreadyApplied
        }
        if (parent.numBuckets != nb0) {
          CdcApply.dropStage(stage)
          throw new IllegalStateException(
            s"table ${table.dir} was re-bucketed ($nb0 -> ${parent.numBuckets}) while " +
              "this append was staged under the old layout — re-apply the batch")
        }
        val merged = staged.foldLeft(parent.files) { case (fs, (b, newFiles)) =>
          fs + (b -> (fs.getOrElse(b, Seq.empty) ++ newFiles))
        }
        parent.copy(
          schemaJson = evolveFrom(parent).json,
          files = merged,
          properties = parent.properties ++
            epoch.map { case (sid, bid) => s"epoch:$sid" -> bid.toString }.toMap,
          metrics = Map("rowsWritten" -> rowsWritten, "bucketsAppended" -> staged.size.toLong))
      }
      CdcApply.BatchResult(snap, skipped = false, rowsWritten, rowsWritten, 0L)
    } catch {
      case AlreadyApplied =>
        // Duplicate delivery that lost the commit CAS: the staged delta
        // was never referenced by any snapshot, so snapshot-based GC can
        // never reclaim it — drop it here (same symmetry as CdcApply's
        // race/skip paths).
        CdcApply.dropStage(stage)
        CdcApply.BatchResult(table.current, skipped = true, 0L, 0L, 0L)
    }
  }
}
