package graft

import org.apache.spark.sql.functions._

import graft.model.MergeSpec
import graft.operators.CdcApply
import graft.table.IceLite

/** MergeSpec configuration flags: delete.enabled and coordinates —
  * reference `RecordValidator` + kafka-coordinate columns.
  */
class SpecFlagsSpec extends SparkSuite {
  import TestHelpers._

  test("auto.evolve=false: a drift batch fails loudly; the table schema stays unchanged") {
    val dir = tmpDir("noevolve") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    // baseline batch with the table schema applies fine
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(ins(0, "c1", 0, "v0"))),
      spec = MergeSpec(autoEvolve = false))
    // drift batch: extra nullable column in the after-struct
    val drifted = eventsDF(spark, Seq(ins(1, "c2", 0, "v1")))
      .withColumn("after", struct(col("after.*"),
        when(col("conv_id").isNotNull, lit("x")).as("extra_col"))) // nullable drift column
    val e = intercept[IllegalStateException](
      CdcApply.applyBatch(spark, t, drifted, spec = MergeSpec(autoEvolve = false)))
    assert(e.getMessage.contains("auto.evolve=false") && e.getMessage.contains("extra_col"), e.getMessage)
    assert(!t.current.schemaJson.contains("extra_col"))
    // same batch with the default evolves as before
    CdcApply.applyBatch(spark, t, drifted, spec = MergeSpec())
    assert(t.current.schemaJson.contains("extra_col"))
  }

  test("misspelled enum spec values are rejected loudly, not silently defaulted") {
    val dir = tmpDir("specenum") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val evs = eventsDF(spark, Seq(ins(0, "c1", 0, "v0")))
    val e = intercept[IllegalArgumentException](
      CdcApply.applyBatch(spark, t, evs, spec = MergeSpec(foldAlignment = "buckets")))
    assert(e.getMessage.contains("must be"), e.getMessage)
  }

  test("delete.enabled=false: tombstones quarantined, rest of batch applies") {
    val dir = tmpDir("nodelete") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val evs = Seq(ins(0, "c1", 0, "v0"), del(1, "c1", Some(0)), ins(2, "c2", 0, "x"))
    val res = CdcApply.applyBatch(spark, t, eventsDF(spark, evs),
      spec = MergeSpec(deleteEnabled = false), rejectedDir = Some(s"$dir/rej"))
    assert(res.rejected == 1)
    // the tombstone did NOT delete: both inserts survive
    assert(readTable(spark, t).map(_.text).sorted == Seq("v0", "x"))
    val rej = spark.read.parquet(s"$dir/rej").collect()
    assert(rej.length == 1 && rej(0).getAs[String]("_error").contains("delete.enabled=false"))
  }

  test("coordinates: state rows carry winning event's (_partition, _offset)") {
    val dir = tmpDir("coords") + "/t"
    val t = IceLite.create(dir, turnSchema, 4)
    val spec = MergeSpec(coordinates = true)
    val b1 = Seq(ins(10, "c1", 0, "v0", part = 3), ins(11, "c2", 5, "w", part = 1))
    val b2 = Seq(upd(20, "c1", 0, "v1", part = 3))
    CdcApply.applyBatch(spark, t, eventsDF(spark, b1), spec, epoch = Some(("q", 0L)))
    CdcApply.applyBatch(spark, t, eventsDF(spark, b2), spec, epoch = Some(("q", 1L)))

    val rows = t.read(spark).orderBy("conv_id").collect()
    assert(t.schema.fieldNames.contains("_offset") && t.schema.fieldNames.contains("_partition"))
    val c1 = rows.find(_.getAs[String]("conv_id") == "c1").get
    assert(c1.getAs[String]("text") == "v1")
    assert(c1.getAs[Long]("_offset") == 20L && c1.getAs[Int]("_partition") == 3)
    val c2 = rows.find(_.getAs[String]("conv_id") == "c2").get
    assert(c2.getAs[Long]("_offset") == 11L && c2.getAs[Int]("_partition") == 1)
  }

  test("fields.whitelist always keeps the fixed key columns conv_id and turn_idx") {
    // the keys are not configurable (MergeSpec has no key fields): a
    // whitelist that names neither key column still lands both, and the
    // fold keys on them
    val spec = MergeSpec(fieldsWhitelist = Seq("text"))
    val t = IceLite.create(tmpDir("wl-keys") + "/t", CdcApply.whitelistedStruct(turnSchema, spec), 4)
    CdcApply.applyBatch(spark, t, eventsDF(spark, Seq(
      ins(0, "c1", 0, "v0"), ins(1, "c1", 1, "v1"), upd(2, "c1", 0, "v2"), del(3, "c2", None))),
      spec = spec)
    assert(t.schema.fieldNames.toSeq == Seq("conv_id", "turn_idx", "text"), t.schema.simpleString)
    assert(t.read(spark).orderBy("turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq(("c1", 0, "v2"), ("c1", 1, "v1")))
  }

  test("coordinates off by default: table schema stays exactly input_hint shape") {
    val got = engineReplay(spark, Seq(Seq(ins(0, "c1", 0, "v0"))))
    assert(got.nonEmpty) // readTable already decodes to TranscriptTurn (6 cols)
  }
}
