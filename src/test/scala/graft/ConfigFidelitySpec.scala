package graft

import org.apache.spark.sql.functions._

import graft.model.{Envelopes, ExtractField, MergeSpec, PayloadSchema}
import graft.operators.CdcApply
import graft.table.IceLite

/** Config-fidelity features mirrored from the reference connector:
  * ingest-time payload-field extraction (README.md:97-102) and primitive
  * record keys (FieldsMetadata.java:237-330).
  */
class ConfigFidelitySpec extends SparkSuite {
  import TestHelpers._

  test("ingest-time payload-field extraction: JSON paths become real table columns") {
    val dir = tmpDir("extract")
    val table = IceLite.create(s"$dir/t", turnSchema, 4)
    val evs = Seq(
      ins(0L, "c1", 0, """{"lang":"en","score":3,"note":"hi"}"""),
      ins(1L, "c1", 1, """{"lang":"no","score":7}"""),
      ins(2L, "c2", 0, "not json at all"),
      del(3L, "c2", Some(0)))
    val spec = MergeSpec(
      extractFields = Seq(ExtractField("lang", "$.lang"), ExtractField("score", "$.score")),
      extractSource = "text")
    CdcApply.applyBatch(spark, table, eventsDF(spark, evs).withColumnRenamed("schemaV", "schema_v"), spec)

    val schema = org.apache.spark.sql.types.DataType
      .fromJson(table.current.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.takeRight(2).toSeq == Seq("lang", "score"))

    val rows = table.read(spark)
      .select("conv_id", "turn_idx", "lang", "score")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(rows == Seq(
      ("c1", 0, "en", "3"),
      ("c1", 1, "no", "7")))
  }

  test("extraction composes with upsert: last value wins per key") {
    val dir = tmpDir("extract-upsert")
    val table = IceLite.create(s"$dir/t", turnSchema, 4)
    val spec = MergeSpec(extractFields = Seq(ExtractField("lang", "$.lang")))
    val b1 = Seq(ins(0L, "c1", 0, """{"lang":"en"}"""))
    val b2 = Seq(ups(1L, "c1", 0, """{"lang":"de"}"""))
    CdcApply.applyBatch(spark, table, eventsDF(spark, b1).withColumnRenamed("schemaV", "schema_v"), spec)
    CdcApply.applyBatch(spark, table, eventsDF(spark, b2).withColumnRenamed("schemaV", "schema_v"), spec)
    val langs = table.read(spark).select("lang").collect().map(_.getString(0)).toSeq
    assert(langs == Seq("de"))
  }

  test("typed extraction: castTo lands a real IntegerType column; cast failure quarantines") {
    val dir = tmpDir("extract-typed")
    val table = IceLite.create(s"$dir/t", turnSchema, 4)
    val evs = Seq(
      ins(0L, "c1", 0, """{"lang":"en","score":3}"""),
      ins(1L, "c1", 1, """{"lang":"no","score":"not-a-number"}"""), // cast failure -> quarantine
      ins(2L, "c2", 0, """{"lang":"sv"}"""), // score absent: null, NOT an error
      del(3L, "c3", Some(0))) // tombstone: after=null, extraction skipped
    val spec = MergeSpec(
      extractFields = Seq(ExtractField("lang", "$.lang"), ExtractField("score", "$.score", "int")),
      extractSource = "text")
    val r = CdcApply.applyBatch(spark, table,
      eventsDF(spark, evs).withColumnRenamed("schemaV", "schema_v"), spec,
      rejectedDir = Some(s"$dir/rej"))
    assert(r.rejected == 1L)

    val schema = org.apache.spark.sql.types.DataType
      .fromJson(table.current.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema("score").dataType == org.apache.spark.sql.types.IntegerType)

    val rows = table.read(spark)
      .select("conv_id", "turn_idx", "lang", "score")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3))))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(rows == Seq(("c1", 0, "en", Some(3)), ("c2", 0, "sv", None)))

    val rej = spark.read.parquet(s"$dir/rej").collect()
    assert(rej.length == 1)
    assert(rej.head.getAs[String]("_error") == "extract cast failure: score as int")
    assert(rej.head.getAs[String]("conv_id") == "c1")
  }

  test("an extract-errored series delete is quarantined and wipes nothing") {
    val dir = tmpDir("extract-wipe")
    val table = IceLite.create(s"$dir/t", turnSchema, 4)
    val spec = MergeSpec(
      extractFields = Seq(ExtractField("score", "$.score", "int")), extractSource = "text")
    CdcApply.applyBatch(spark, table, eventsDF(spark, Seq(
      ins(0L, "c1", 0, """{"score":1}"""), ins(1L, "c1", 1, """{"score":2}"""),
      ins(2L, "c2", 0, """{"score":3}"""))), spec)
    // series deletes carrying a payload: c1's fails extraction (quarantined,
    // must not wipe), c2's extracts cleanly (wipes)
    val malformed = graft.model.ChangeEvent(0, 3L, ts(3L), "delete", "c1", None,
      Some(turn("c1", 0, """{"score":"not-a-number"}""", 3L)), 2)
    val sound = graft.model.ChangeEvent(0, 4L, ts(4L), "delete", "c2", None,
      Some(turn("c2", 0, """{"score":4}""", 4L)), 2)
    val r = CdcApply.applyBatch(spark, table, eventsDF(spark, Seq(malformed, sound)), spec,
      rejectedDir = Some(s"$dir/rej"))
    assert(r.rejected == 1L)
    val rows = table.read(spark).select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(rows == Seq(("c1", 0), ("c1", 1)), rows)
  }

  test("multi-schema classification: two JSON shapes on one topic get their own extract columns") {
    val dir = tmpDir("multischema")
    val table = IceLite.create(s"$dir/t", turnSchema, 4)
    // shape A (chat): has $.msg; shape B (tool call): has $.call
    val schemas = Seq(
      PayloadSchema("chat", "$.msg", Seq(
        ExtractField("kind", "$.msg.kind"), ExtractField("n", "$.msg.n", "bigint"))),
      PayloadSchema("toolcall", "$.call", Seq(
        ExtractField("kind", "$.call.tool"), ExtractField("n", "$.call.args", "bigint"))))
    val evs = Seq(
      ins(0L, "a", 0, """{"msg":{"kind":"greeting","n":5}}"""),
      ins(1L, "a", 1, """{"call":{"tool":"search","args":42}}"""),
      ins(2L, "b", 0, """{"neither":true}""")) // matches no schema -> quarantine
    val spec = MergeSpec(payloadSchemas = schemas, extractSource = "text")
    val r = CdcApply.applyBatch(spark, table,
      eventsDF(spark, evs).withColumnRenamed("schemaV", "schema_v"), spec,
      rejectedDir = Some(s"$dir/rej"))
    assert(r.rejected == 1L)

    val rows = table.read(spark)
      .select("conv_id", "turn_idx", "kind", "n")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(rows == Seq(("a", 0, "greeting", 5L), ("a", 1, "search", 42L)))

    val rej = spark.read.parquet(s"$dir/rej").collect()
    assert(rej.map(_.getAs[String]("_error")).toSeq == Seq("no payload schema matched"))
  }

  test("multi-schema config validation: allowNonIndexed + name collisions + type conflicts") {
    val dir = tmpDir("multischema-val")
    val table = IceLite.create(s"$dir/t", turnSchema, 4)
    val ev = eventsDF(spark, Seq(ins(0L, "c", 0, """{"a":1}""")))
      .withColumnRenamed("schemaV", "schema_v")
    def apply(spec: MergeSpec) = CdcApply.applyBatch(spark, table, ev, spec)

    // allowNonIndexed=false (reference default): column sets must agree
    val uneven = Seq(
      PayloadSchema("s1", "$.a", Seq(ExtractField("x", "$.a"))),
      PayloadSchema("s2", "$.b", Seq(ExtractField("y", "$.b"))))
    val e1 = intercept[IllegalArgumentException](apply(MergeSpec(payloadSchemas = uneven)))
    assert(e1.getMessage.contains("allowNonIndexed"))
    // same spec is admitted when allowNonIndexed=true
    apply(MergeSpec(payloadSchemas = uneven, allowNonIndexed = true))

    // one target column, two declared types -> rejected
    val conflict = Seq(
      PayloadSchema("s1", "$.a", Seq(ExtractField("x", "$.a", "int"))),
      PayloadSchema("s2", "$.b", Seq(ExtractField("x", "$.b", "bigint"))))
    val e2 = intercept[IllegalArgumentException](apply(MergeSpec(payloadSchemas = conflict)))
    assert(e2.getMessage.contains("declared as int and bigint"))

    // extract name shadowing an envelope payload field -> rejected
    val e3 = intercept[IllegalArgumentException](
      apply(MergeSpec(extractFields = Seq(ExtractField("text", "$.t")))))
    assert(e3.getMessage.contains("collide"))

    // both mechanisms at once -> rejected
    val e4 = intercept[IllegalArgumentException](
      apply(MergeSpec(extractFields = Seq(ExtractField("x", "$.a")), payloadSchemas = uneven)))
    assert(e4.getMessage.contains("not both"))

    // duplicate extract names WITHIN one schema -> rejected (not silently
    // first-wins: a typo would bind a column to the wrong JSON path)
    val dupIn = Seq(PayloadSchema("s", "$.a",
      Seq(ExtractField("x", "$.a"), ExtractField("x", "$.b"))))
    val e5 = intercept[IllegalArgumentException](apply(MergeSpec(payloadSchemas = dupIn)))
    assert(e5.getMessage.contains("duplicate extract names"))
  }

  test("ad-hoc (no-epoch) batches write quarantine once, after the commit") {
    val dir = tmpDir("quar-adhoc")
    val table = IceLite.create(s"$dir/t", turnSchema, 4)
    val evs = eventsDF(spark, Seq(ins(0L, "c1", 0, "ok"), ins(1L, null, 0, "bad")))
      .withColumnRenamed("schemaV", "schema_v")
    val r = CdcApply.applyBatch(spark, table, evs, rejectedDir = Some(s"$dir/rej"))
    assert(r.rejected == 1L)
    assert(spark.read.parquet(s"$dir/rej").count() == 1)
    // a second ad-hoc apply of the same data appends (at-least-once by
    // design: no epoch marker exists to dedupe on)
    CdcApply.applyBatch(spark, table, evs, rejectedDir = Some(s"$dir/rej"))
    assert(spark.read.parquet(s"$dir/rej").count() == 2)
  }

  test("quarantine is idempotent: epoch re-delivery adds nothing; epoch partition overwrites stale rows") {
    val dir = tmpDir("quar-idem")
    val table = IceLite.create(s"$dir/t", turnSchema, 4)
    val rejDir = s"$dir/rej"
    // one good row, one bad (null key)
    val evs = eventsDF(spark, Seq(ins(0L, "c1", 0, "ok"), ins(1L, null, 0, "bad")))
      .withColumnRenamed("schemaV", "schema_v")

    // crash-between-quarantine-and-commit shape: the epoch's quarantine
    // partition already holds rows (from the aborted first attempt, here
    // seeded stale) when the SAME epoch re-runs — dynamic partition
    // overwrite must replace, not append
    val stale = eventsDF(spark, Seq(ins(9L, null, 9, "stale"), ins(10L, null, 9, "stale2")))
      .withColumnRenamed("schemaV", "schema_v")
      .withColumn("_error", lit("stale")).withColumn("_rejected_at_epoch", lit(0L))
    stale.write.partitionBy("_rejected_at_epoch").parquet(rejDir)
    assert(spark.read.parquet(rejDir).count() == 2)

    val r1 = CdcApply.applyBatch(spark, table, evs, epoch = Some(("q", 0L)), rejectedDir = Some(rejDir))
    assert(!r1.skipped && r1.rejected == 1L)
    assert(spark.read.parquet(rejDir).count() == 1, "epoch partition must be overwritten, not appended")

    // re-delivery AFTER commit: skipped entirely, quarantine untouched
    val r2 = CdcApply.applyBatch(spark, table, evs, epoch = Some(("q", 0L)), rejectedDir = Some(rejDir))
    assert(r2.skipped)
    assert(spark.read.parquet(rejDir).count() == 1)

    // a different epoch's rejects land in their own partition
    val evs2 = eventsDF(spark, Seq(ins(2L, null, 1, "bad2")))
      .withColumnRenamed("schemaV", "schema_v")
    CdcApply.applyBatch(spark, table, evs2, epoch = Some(("q", 1L)), rejectedDir = Some(rejDir))
    val rej = spark.read.parquet(rejDir)
    assert(rej.count() == 2)
    // partition-column type inference reads the epoch back as int
    assert(rej.select("_rejected_at_epoch").distinct().collect()
      .map(_.get(0).toString.toLong).sorted.toSeq == Seq(0L, 1L))
  }

  test("payload target-column override: event field `text` lands as table column `event`") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("payload-target")
    val targetSchema = StructType(turnSchema.fields.map(f =>
      if (f.name == "text") f.copy(name = "event") else f))
    val table = IceLite.create(s"$dir/t", targetSchema, 4)
    val spec = MergeSpec(payloadTargetName = "event")
    val evs = Seq(ins(0L, "c1", 0, "hello"), ins(1L, "c1", 1, "world"), ups(2L, "c1", 0, "hi"))
    CdcApply.applyBatch(spark, table,
      eventsDF(spark, evs).withColumnRenamed("schemaV", "schema_v"), spec)

    assert(table.schema.fieldNames.contains("event") && !table.schema.fieldNames.contains("text"))
    val rows = table.read(spark).select("conv_id", "turn_idx", "event")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(rows == Seq(("c1", 0, "hi"), ("c1", 1, "world")))
  }

  test("payload target-column rename composes with extraction (paths read the event-side name)") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("payload-target-extract")
    val targetSchema = StructType(turnSchema.fields.map(f =>
      if (f.name == "text") f.copy(name = "event") else f))
    val table = IceLite.create(s"$dir/t", targetSchema, 4)
    val spec = MergeSpec(
      payloadTargetName = "event",
      extractFields = Seq(ExtractField("lang", "$.lang")),
      extractSource = "text") // extraction is configured against the EVENT field name
    CdcApply.applyBatch(spark, table,
      eventsDF(spark, Seq(ins(0L, "c1", 0, """{"lang":"en"}""")))
        .withColumnRenamed("schemaV", "schema_v"), spec)
    val r = table.read(spark).select("event", "lang").collect().head
    assert(r.getString(0) == """{"lang":"en"}""" && r.getString(1) == "en")
    // a rename target colliding with an existing field is rejected
    val e = intercept[IllegalArgumentException](
      CdcApply.applyBatch(spark, table,
        eventsDF(spark, Seq(ins(1L, "c1", 1, "x"))).withColumnRenamed("schemaV", "schema_v"),
        MergeSpec(payloadTargetName = "role")))
    assert(e.getMessage.contains("collides"))
  }

  test("primitive record key: key column maps to conv_id; tombstone is a series delete") {
    val dir = tmpDir("prim-key")
    val table = IceLite.create(s"$dir/t", turnSchema, 4)
    val evs = Seq(
      ins(0L, "cX", 0, "x0"), ins(1L, "cX", 1, "x1"),
      ins(2L, "cY", 0, "y0"),
      del(3L, "cX", None)) // primitive-key tombstone → series delete of cX
    // reshape to a primitive-key log: single `key` column, no explicit
    // conv_id/turn_idx envelope fields
    val primitiveLog = eventsDF(spark, evs)
      .withColumnRenamed("schemaV", "schema_v")
      .select(col("partition"), col("offset"), col("ts"), col("op"),
        col("conv_id").as("key"), col("after"), col("schema_v"))

    val env = Envelopes.fromPrimitiveKey(primitiveLog)
    CdcApply.applyBatch(spark, table, env)

    val got = readTable(spark, table).map(t => (t.conv_id, t.turn_idx, t.text))
    assert(got == Seq(("cY", 0, "y0")))
  }

  test("fields.whitelist: non-whitelisted value fields never reach the table") {
    import org.apache.spark.sql.types.StructType
    val dir = tmpDir("whitelist")
    // reference FieldsMetadata.java:79-162: whitelist filters VALUE
    // fields, key fields always included. Table created with the
    // whitelisted shape; a full-envelope batch must not evolve it back.
    val projected = StructType(turnSchema.fields.filter(f =>
      Seq("conv_id", "turn_idx", "role", "ts").contains(f.name)))
    val table = IceLite.create(s"$dir/t", projected, 4)
    val evs = Seq(
      ins(0L, "c1", 0, "secret text"),
      ins(1L, "c1", 1, "more secret"),
      del(2L, "c2", None))
    val spec = MergeSpec(fieldsWhitelist = Seq("role", "ts"))
    CdcApply.applyBatch(spark, table, eventsDF(spark, evs).withColumnRenamed("schemaV", "schema_v"), spec)

    val schema = org.apache.spark.sql.types.DataType
      .fromJson(table.current.schemaJson).asInstanceOf[StructType]
    assert(schema.fieldNames.toSeq == Seq("conv_id", "turn_idx", "role", "ts"),
      s"whitelisted schema only, got ${schema.fieldNames.mkString(",")}")
    val rows = table.read(spark).select("conv_id", "turn_idx", "role")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(rows == Seq(("c1", 0, "user"), ("c1", 1, "user")))
  }

  test("fields.whitelist keeps spec-referenced columns: extraction source survives") {
    import org.apache.spark.sql.types.StructType
    val dir = tmpDir("whitelist-extract")
    val projected = StructType(turnSchema.fields.filter(f =>
      Seq("conv_id", "turn_idx", "text").contains(f.name)))
    val table = IceLite.create(s"$dir/t", projected, 4)
    val evs = Seq(ins(0L, "c1", 0, """{"lang":"en"}"""))
    // `text` is NOT whitelisted but is the extraction source — it must
    // survive the projection (same rule as the routed-slice projection)
    val spec = MergeSpec(
      fieldsWhitelist = Seq("lang"),
      extractFields = Seq(ExtractField("lang2", "$.lang")),
      extractSource = "text")
    CdcApply.applyBatch(spark, table, eventsDF(spark, evs).withColumnRenamed("schemaV", "schema_v"), spec)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(table.current.schemaJson).asInstanceOf[StructType]
    assert(schema.fieldNames.toSeq == Seq("conv_id", "turn_idx", "text", "lang2"))
    val row = table.read(spark).select("text", "lang2").head()
    assert(row.getString(0) == """{"lang":"en"}""" && row.getString(1) == "en")
  }
}
