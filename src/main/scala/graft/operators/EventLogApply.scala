package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.MergeSpec
import graft.table.{IceLite, IceLiteTable, SchemaEvolution}

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
    if (snap0.applied(epoch)) return CdcApply.skipped(snap0)

    // Evolve the log table's schema when the batch's after-struct carries
    // drift columns: the ALTER-ADD merge runs FIELD-WISE on the nested
    // after struct (comparing the struct as one opaque type would reject
    // both drift adds and harmless nested-nullability differences).
    // Resolved against the commit-time parent (CAS-safe under retry).
    val incomingAfter = events0.schema("after").dataType.asInstanceOf[StructType]
    def evolveFrom(parent: IceLite.Snapshot): StructType = logSchema(SchemaEvolution.evolve(
      parent.schema("after").dataType.asInstanceOf[StructType], incomingAfter))

    val rows = events0.select(
      col("op"), col("conv_id"), col("turn_idx"), col("after"), col("ts"),
      col("partition").as("_partition"), col("offset").as("_offset"))

    // A batch scanned in one task (MergeEngine.plansOneTask) is
    // appended from that task as ONE file, listed under every bucket its
    // rows hash to (IceLiteTable.stage): the rebalance would only scatter
    // and gather the rows, and a file per bucket costs more to write than
    // the rows in it. Any other batch is rebalanced onto the bucket key
    // and written one file per bucket. The commit fences a rebucket that
    // lands meanwhile: appending files staged under an old layout would
    // break pruning.
    val nb0 = snap0.numBuckets
    val bucketed = rows.withColumn("bucket", MergeEngine.bucketOf(col("conv_id"), nb0))
    val oneTask = MergeEngine.plansOneTask(events0)
    val staged = table.stage(spark, if (oneTask) bucketed else bucketed.hint("rebalance", "bucket"),
      nb0, oneTask, Seq("conv_id", "turn_idx", "_offset"), IceLite.BaseFileOptions)
    // footer-only count, driver-side — no Spark job in the append path
    val rowsWritten = staged.rows
    table.commitStaged(staged, epoch) { parent =>
      parent.copy(
        schemaJson = evolveFrom(parent).json,
        files = staged.appendTo(parent.files),
        metrics = Map("rowsWritten" -> rowsWritten, "bucketsAppended" -> staged.files.size.toLong))
    }.fold(CdcApply.skipped(table.current))(
      CdcApply.BatchResult(_, skipped = false, rowsWritten, rowsWritten, 0L))
  }
}
