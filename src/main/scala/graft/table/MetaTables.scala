package graft.table

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-style metadata tables over an IceLite table: the query surface
  * operators use to answer "is this table healthy?" without touching data
  * — snapshot history (`SELECT * FROM tbl.snapshots`), the live file
  * manifest (`tbl.files`), and named refs/audits (`tbl.refs`).
  *
  * All three are METADATA-sized by construction: `snapshots` is O(retained
  * versions), `refs` is O(named refs), and `files` is O(live files in one
  * version) — the same rows the driver already folds to plan any read, so
  * building them driver-side and parallelizing only the per-file footer
  * stats (bounded thread pool, same shape as the commit-metrics footer
  * read) is the honest cost model. At 100 TB the file manifest of ONE
  * snapshot is still bounded by numBuckets × compaction threshold, which
  * maintenance keeps flat (BENCH/metadata-flatness.md); nothing here ever
  * scans a data file's contents.
  *
  * Reference analogue: the connector exposes delivery health only through
  * JMX/log counters (`.../sink/JdbcSinkTask.java` put/flush logging); a
  * lake-format sink gets table-level observability instead, so this is the
  * Spark-native replacement surface.
  */
object MetaTables {

  /** One row per retained snapshot version, oldest → newest: lineage
    * (version, parent), layout (num_buckets, file/byte counts split
    * base/delta), the commit's metrics map (rowsWritten, eventsApplied,
    * rebucketedFrom, rollbackTo, ... — whatever the commit recorded), and
    * `committed_at` (the snapshot file's write time — IceLite commits are
    * atomic single-file writes, so the mtime IS the commit instant).
    */
  def snapshots(spark: SparkSession, table: IceLiteTable): DataFrame = {
    import spark.implicits._
    // a version listed here can be expired before its read below — such a
    // snapshot simply drops out of the listing (the same state a re-list
    // would return), rather than failing the whole metadata query. ONLY
    // the missing-file signal is tolerated: a corrupt v-file must fail
    // loudly, not silently vanish from the observability surface.
    val rows = table.versions.flatMap { v =>
      try Some(snapshotRow(table, v))
      catch { case e: Throwable if IceLite.missingFile(e) => None }
    }
    spark.createDataset(rows).toDF()
  }

  private def snapshotRow(table: IceLiteTable, v: Long): SnapshotRow = {
    val s = table.snapshot(v)
    // a one-task epoch's file is listed under several buckets: count it once
    val base = s.files.values.flatten.toSeq.distinct
    val deltas = s.deltas.values.flatten.toSeq.distinct
    SnapshotRow(
      version = s.version,
      parent_version = s.parentVersion,
      committed_at = new java.sql.Timestamp(
        Files.getLastModifiedTime(table.vFile(v)).toMillis),
      num_buckets = s.numBuckets,
      last_delta_seq = s.lastDeltaSeq,
      n_base_files = base.size,
      n_delta_files = deltas.size,
      base_bytes = sizeOf(table, base),
      delta_bytes = sizeOf(table, deltas),
      metrics = s.metrics,
      n_epochs = s.epochs.size)
  }

  /** One row per live file of `version` (default: current): the buckets
    * listing it (several for a one-task epoch's file), path relative to
    * the table root, kind (base|delta), size, and the footer row count.
    * Row counts come from parquet footers read driver-side in
    * parallel — metadata pages only, never row groups — exactly like the
    * rows-written commit metric.
    *
    * Concurrent-expiry tolerance mirrors [[snapshots]]: maintenance can
    * expire `version` BETWEEN the snapshot fold and the footer reads,
    * collecting data files the folded state still references. That
    * missing-file signal is re-resolved in a bounded retry loop — the
    * default (current-version) call re-reads at the NEW current, an
    * explicit version that is no longer retained fails with a clear
    * expired-during-read error. Any missing file on a version that is
    * STILL retained is corruption and stays loud (expiry never deletes a
    * retained snapshot's files), matching the strict-metadata contract of
    * [[IceLiteTable.removeOrphanFiles]].
    */
  def files(spark: SparkSession, table: IceLiteTable, version: Long = -1L): DataFrame = {
    var attempt = 0
    while (true) {
      val v = if (version < 0) table.currentVersion else version
      try return files0(spark, table, v)
      catch {
        case e: Throwable if IceLite.missingFile(e) && attempt < 4 =>
          if (table.versions.contains(v)) throw e // retained ⇒ corruption: loud
          if (version >= 0) throw new IllegalStateException(
            s"version $version of ${table.dir} expired during files() read", e)
          attempt += 1 // current raced away — re-resolve and re-read
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def files0(spark: SparkSession, table: IceLiteTable, version: Long): DataFrame = {
    import spark.implicits._
    val s = table.snapshot(version)
    def byFile(m: Map[Int, Seq[String]], kind: String): Seq[(Seq[Int], String, String)] =
      m.toSeq.flatMap { case (b, fs) => fs.map(_ -> b) }.groupMap(_._1)(_._2)
        .toSeq.sortBy(_._1).map { case (f, bs) => (bs.sorted, f, kind) }
    val all = byFile(s.files, "base") ++ byFile(s.deltas, "delta")
    val conf = spark.sessionState.newHadoopConf()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val rows = Await.result(Future.sequence(all.map { case (bs, f, kind) =>
      Future {
        val p = java.nio.file.Paths.get(table.dir).resolve(f)
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p.toString), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val rc = try r.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum
        finally r.close()
        FileRow(s.version, bs, f, kind, Files.size(p), rc)
      }
    }), Duration.Inf)
    spark.createDataset(rows).toDF()
  }

  /** One row per named ref: tags (B10) and staged audits (B12), each with
    * the snapshot version it pins.
    */
  def refs(spark: SparkSession, table: IceLiteTable): DataFrame = {
    import spark.implicits._
    val rows =
      table.tags.toSeq.map { case (n, v) => RefRow(n, "tag", v) } ++
        table.audits.toSeq.map { case (n, v) => RefRow(n, "audit", v) }
    spark.createDataset(rows).toDF()
  }

  private def sizeOf(table: IceLiteTable, rel: Seq[String]): Long =
    rel.iterator.map(f => Files.size(java.nio.file.Paths.get(table.dir).resolve(f))).sum

  final case class SnapshotRow(
      version: Long,
      parent_version: Long,
      committed_at: java.sql.Timestamp,
      num_buckets: Int,
      last_delta_seq: Long,
      n_base_files: Int,
      n_delta_files: Int,
      base_bytes: Long,
      delta_bytes: Long,
      metrics: Map[String, Long],
      n_epochs: Int)

  final case class FileRow(
      version: Long,
      buckets: Seq[Int],
      path: String,
      kind: String,
      size_bytes: Long,
      row_count: Long)

  final case class RefRow(name: String, kind: String, version: Long)
}
