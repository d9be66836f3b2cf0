package graft

import org.apache.spark.sql.functions._

import graft.model.MergeSpec
import graft.operators.CdcApply
import graft.table.{IceLite, MetaTables}

/** Metadata-tables surface: `snapshots`/`files`/`refs` must agree with the
  * snapshot log they summarize — counts, bytes, footer row counts, ref
  * pins — across commits, compaction, and time travel.
  */
class MetaTablesSpec extends SparkSuite {
  import TestHelpers._

  private def freshTable(prefix: String) = {
    val dir = tmpDir(prefix) + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val spec = MergeSpec(morCompactThreshold = 1000)
    val b0 = (0 until 60).map(i => ins(i.toLong, f"c${i % 6}%03d", i % 10, s"a-$i"))
    val b1 = (60 until 120).map(i => ups(i.toLong, f"c${i % 6}%03d", i % 10, s"b-$i"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, b0), spec = spec, epoch = Some(("mt", 0L)))
    CdcApply.applyBatch(spark, t, eventsDF(spark, b1), spec = spec, epoch = Some(("mt", 1L)))
    (t, spec)
  }

  test("snapshots: one row per retained version; counts/bytes/metrics match the log") {
    val (t, _) = freshTable("meta-snap")
    val df = MetaTables.snapshots(spark, t)
    val rows = df.orderBy("version").collect()
    assert(rows.map(_.getAs[Long]("version")).toSeq == t.versions)
    val cur = rows.last
    assert(cur.getAs[Long]("version") == t.currentVersion)
    assert(cur.getAs[Int]("n_base_files") == t.dataFiles().size)
    assert(cur.getAs[Int]("n_delta_files") == t.deltaFiles().size)
    assert(cur.getAs[Long]("delta_bytes") > 0L)
    assert(cur.getAs[Int]("num_buckets") == t.numBuckets)
    assert(cur.getAs[Int]("n_epochs") == 1) // one stream id 'mt'
    val m = cur.getAs[scala.collection.Map[String, Long]]("metrics")
    assert(m("rowsWritten") == t.current.metrics("rowsWritten"))
    // lineage chains: each row's parent is the previous retained version
    rows.sliding(2).foreach {
      case Array(p, c) => assert(c.getAs[Long]("parent_version") == p.getAs[Long]("version"))
      case _           =>
    }
    // commit instants are monotone along the chain
    val ts = rows.map(_.getAs[java.sql.Timestamp]("committed_at").getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // expiry shrinks the listing to exactly the retained versions
    t.expireSnapshots(keepLast = 1)
    val after = MetaTables.snapshots(spark, t).select("version").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(after == t.versions)
    assert(after.nonEmpty && after.last == t.currentVersion)
  }

  test("files: manifest matches the snapshot's file lists; footer rows sum to the written rows") {
    val (t, _) = freshTable("meta-files")
    val df = MetaTables.files(spark, t)
    assert(df.count() == (t.dataFiles().size + t.deltaFiles().size).toLong)
    assert(df.filter(col("kind") === "base").count() == t.dataFiles().size.toLong)
    assert(df.filter(col("size_bytes") <= 0).count() == 0)
    // delta footer rows across ALL versions' files = total rows ever written
    val deltaRows = df.filter(col("kind") === "delta")
      .agg(sum("row_count")).collect()(0).getLong(0)
    val written = MetaTables.snapshots(spark, t)
      .agg(sum(element_at(col("metrics"), "rowsWritten"))).collect()(0).getLong(0)
    assert(deltaRows == written)

    // time travel: the old version's manifest is unchanged by compaction
    val vOld = t.currentVersion
    val oldCount = df.count()
    assert(t.compactDeltas(spark) > 0)
    val nowDf = MetaTables.files(spark, t)
    assert(nowDf.filter(col("kind") === "delta").count() == 0)
    assert(nowDf.filter(col("kind") === "base").count() > 0)
    assert(MetaTables.files(spark, t, vOld).count() == oldCount)
    // compaction preserved state row count: base footer rows == state rows
    val baseRows = nowDf.agg(sum("row_count")).collect()(0).getLong(0)
    assert(baseRows == t.read(spark).count())
  }

  test("refs: tags and staged audits both surface with their pinned versions") {
    val (t, spec) = freshTable("meta-refs")
    assert(MetaTables.refs(spark, t).count() == 0)
    val v = t.tag("train-run-17")
    val b2 = (120 until 140).map(i => ins(i.toLong, f"c${i % 6}%03d", 10 + i % 5, s"c-$i"))
    CdcApply.applyBatch(spark, t, eventsDF(spark, b2), spec = spec,
      epoch = Some(("mt", 2L)), auditRef = Some("pre-train-audit"))
    val df = MetaTables.refs(spark, t)
    val r = df.collect().map(x =>
      (x.getAs[String]("name"), x.getAs[String]("kind"), x.getAs[Long]("version")))
    assert(r.toSet == Set(
      ("train-run-17", "tag", v),
      ("pre-train-audit", "audit", t.audits("pre-train-audit"))))
    t.discardAudit("pre-train-audit")
    t.dropTag("train-run-17")
    assert(MetaTables.refs(spark, t).count() == 0)
  }

  test("files: a missing data file on a RETAINED version fails loudly; an expired version reads as expired") {
    val (t, _) = freshTable("meta-files-race")
    // retained version, vanished data file = corruption — the strict
    // contract: never silently shrink the manifest of a live snapshot
    val victim = java.nio.file.Paths.get(t.dir).resolve(t.deltaFiles().head)
    val orig = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.delete(victim)
    val e = try intercept[Exception] {
      MetaTables.files(spark, new graft.table.IceLiteTable(t.dir)).collect()
    } finally java.nio.file.Files.write(victim, orig)
    assert(IceLite.missingFile(e))
    assert(MetaTables.files(spark, new graft.table.IceLiteTable(t.dir)).count() ==
      (t.dataFiles().size + t.deltaFiles().size).toLong)
    // a version whose chain raced away mid-read (v-file gone from the
    // listing) surfaces as the clear expired error, not a raw IO failure
    val vGone = t.currentVersion
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(t.dir, "snap", f"v$vGone%010d.json"))
    val ex = intercept[IllegalStateException] {
      MetaTables.files(spark, new graft.table.IceLiteTable(t.dir), vGone).collect()
    }
    assert(ex.getMessage.contains("expired during files() read"))
    // the default (current-version) call re-resolves to the surviving tip
    val tipRows = MetaTables.files(spark, new graft.table.IceLiteTable(t.dir))
    assert(tipRows.select("version").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(vGone - 1))
  }

  test("snapshots: expired-mid-listing versions drop out; a CORRUPT v-file fails loudly") {
    val (t, _) = freshTable("meta-corrupt")
    // the current version's v-file is a diff above the create-time
    // checkpoint, so any snapshot(current) must parse it; fresh handles
    // below bypass the per-handle state memo
    val victim = t.currentVersion
    val vPath = java.nio.file.Paths.get(t.dir, "snap", f"v$victim%010d.json")
    val orig = java.nio.file.Files.readAllBytes(vPath)
    java.nio.file.Files.write(vPath, "{not json".getBytes)
    try intercept[Exception] {
      MetaTables.snapshots(spark, new graft.table.IceLiteTable(t.dir)).collect()
    } finally java.nio.file.Files.write(vPath, orig)
    assert(MetaTables.snapshots(spark, new graft.table.IceLiteTable(t.dir)).count()
      == t.versions.size.toLong)
    // deletion (the concurrent-expiry signal) drops the version instead
    java.nio.file.Files.delete(vPath)
    val left = MetaTables.snapshots(spark, new graft.table.IceLiteTable(t.dir))
      .collect().map(_.getAs[Long]("version"))
    assert(!left.contains(victim) && left.nonEmpty)
  }
}
