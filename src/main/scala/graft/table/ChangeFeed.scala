package graft.table

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.NetAction

/** Incremental change-data-feed read: the net change rows an IceLite
  * table committed in the snapshot range `(fromVersion, toVersion]` —
  * the egress half of a CDC engine (Iceberg incremental reads / Delta
  * CDF). Downstream consumers poll `readChanges(lastSeenVersion)` and
  * advance their cursor; re-reading a range is idempotent because the
  * feed is keyed by `_commit_version`.
  *
  * The reference engine's consumers get this for free from the RDBMS
  * (query the landed table; `/root/reference/README.md:19-24`); a
  * file-format engine has to expose the committed deltas themselves.
  *
  * What each commit kind contributes (discriminated by the metrics key
  * its write path stamps — exactly one per commit):
  *
  *  - merge-on-read apply (`deltaFilesAdded`): the commit's delta files
  *    ARE its net-action feed (`MorRead.deltaSchema` rows stamped with
  *    `seq` = the committing version) — read verbatim, zero recompute;
  *  - event-log append (`bucketsAppended`): the base files the commit
  *    added are all inserts — surfaced as [[NetAction.Put]] rows;
  *  - compaction (`bucketsCompacted`) and re-bucketing (`rebucketTo`):
  *    state-preserving file rewrites — contribute nothing;
  *  - rollback (`rollbackTo`): the reverted rows were never re-written,
  *    so the range is not feed-expressible — the read throws and the
  *    consumer re-bootstraps (see [[IceLiteTable.rollback]]);
  *  - any other commit that changes the file lists — a copy-on-write
  *    apply (`bucketsRewritten`) in a table written before merge-on-read
  *    became the only apply path, or a foreign writer: its change rows
  *    were NOT retained, so the range is not feed-readable and the read
  *    throws (same contract as Iceberg COW tables without a changelog).
  *    The engine no longer writes such commits; the check guards tables
  *    and commits from outside it.
  *
  * Scale: the version walk is a driver-side metadata fold, O(range)
  * with memoized snapshots; the data read is ONE parquet scan over
  * exactly the range's delta bytes — O(changes in range), never
  * O(table). Valid over the snapshot-retention window, like
  * [[IceLiteTable.readAt]]: `expireSnapshots` deletes data files only
  * when no surviving snapshot references them.
  */
object ChangeFeed {

  /** Feed schema: the delta-action vocabulary ([[NetAction]]) plus the
    * committing snapshot version. `row` carries the post-image under the
    * table schema as of `toVersion` (older files widen with nulls,
    * ALTER-ADD semantics); it is meaningful for [[NetAction.Put]] /
    * [[NetAction.UpdateIfExists]] only. A [[NetAction.Wipe]] row has
    * `turn_idx` null and kills every earlier-version row of `conv_id`.
    */
  def feedSchema(tableSchema: StructType): StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("action", StringType),
    StructField("row", tableSchema),
    StructField("_commit_version", LongType)))

  def read(
      spark: SparkSession,
      table: IceLiteTable,
      fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    val to = if (toVersion < 0) table.currentVersion else toVersion
    require(fromVersion >= 1 && fromVersion <= to,
      s"change-feed range ($fromVersion, $to] is invalid (need 1 <= from <= to)")
    val sch = table.snapshot(to).schema

    def flat(m: Map[Int, Seq[String]]): Set[String] = m.valuesIterator.flatten.toSet
    def abs(rel: Iterable[String]): Seq[String] =
      rel.toSeq.sorted.map(r => s"${table.dir}/$r")

    // driver-side metadata walk: per-version added files by commit kind
    val morFiles = Set.newBuilder[String]
    var appends = List.empty[(Long, Set[String])]
    var prev = table.snapshot(fromVersion)
    (fromVersion + 1) to to foreach { v =>
      val s = table.snapshot(v)
      if (s.metrics.contains("deltaFilesAdded"))
        morFiles ++= (flat(s.deltas) -- flat(prev.deltas))
      else if (s.metrics.contains("bucketsAppended"))
        appends ::= (v, flat(s.files) -- flat(prev.files))
      else if (s.metrics.contains("bucketsCompacted")) () // state-preserving
      else if (s.metrics.contains("rebucketTo")) () // layout rewrite, state-preserving
      else if (s.metrics.contains("rollbackTo")) throw new UnsupportedOperationException(
        s"version $v of ${table.dir} is a rollback to v${s.metrics("rollbackTo")}: the " +
          "reverted rows were never re-written, so the feed cannot express the range " +
          "incrementally — re-bootstrap the consumer (mirror/view/SCD2) from a fresh " +
          "snapshot, or diff readAt states")
      else if (s.files == prev.files && s.deltas == prev.deltas) () // metadata-only
      else throw new UnsupportedOperationException(
        s"version $v of ${table.dir} rewrote data files outside the merge-on-read/" +
          "append paths (copy-on-write commit): its change rows were not retained. " +
          "Diff readAt snapshots instead.")
      prev = s
    }

    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), feedSchema(sch))

    // every MOR delta row already carries its committing version (`seq`):
    // one scan over the whole range, no per-version reads
    val mor = {
      val fs = abs(morFiles.result())
      if (fs.isEmpty) empty
      else IceLite.readFiles(spark, MorRead.deltaSchema(sch), fs)
        .withColumnRenamed("seq", "_commit_version")
    }
    // append commits stamp their version driver-side (base rows carry
    // none): ONE scan over every appended file in the range, the
    // committing version joined back per file (broadcast of
    // O(files-in-range) narrow rows). A scan-per-commit union would grow
    // the PLAN with the range — a catch-up read over a thousand append
    // commits must not build a thousand-way union.
    val inserts = if (appends.isEmpty) empty
    else {
      val hconf = spark.sparkContext.hadoopConfiguration
      // qualified URI form, matching what the scan's _metadata.file_path reports
      def qualify(p: String): String = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).makeQualified(hp).toString
      }
      val fileVer: Seq[(String, Long)] =
        appends.flatMap { case (v, fs) => abs(fs).map(f => (qualify(f), v)) }
      import spark.implicits._
      val vmap = fileVer.toDF("_file_path", "_commit_version")
      IceLite.readFiles(spark, sch, fileVer.map(_._1))
        .withColumn("_file_path", col("_metadata.file_path"))
        .join(broadcast(vmap), Seq("_file_path"), "left")
        .select(
          col("conv_id"), col("turn_idx").cast("int").as("turn_idx"),
          lit(NetAction.Put).as("action"),
          struct(sch.fieldNames.toSeq.map(col): _*).as("row"),
          // a scan path that fails to map back to its commit would
          // silently DROP feed rows under an inner join — fail loudly
          // instead (the feed contract is never-a-wrong-result)
          coalesce(col("_commit_version"),
            raise_error(concat(lit("change-feed: appended file not in the version map: "),
              col("_file_path"))).cast("long")).as("_commit_version"))
    }
    mor.unionByName(inserts)
  }
}
