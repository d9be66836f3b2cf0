package graft.model

import java.sql.Timestamp

/** Core data model for the CDC / event-store engine.
  *
  * Mirrors the semantics (NOT the code) of the reference connector's
  * SinkRecord envelope (`/root/reference/src/main/java/io/confluent/connect/jdbc/sink/JdbcSinkTask.java:71-83`)
  * and its tombstone convention (`.../sink/BufferedRecords.java:93-100`):
  * a null value with a non-null key is a delete; otherwise the configured
  * insert mode decides insert/upsert/update.
  *
  * The target row shape is fixed by BASELINE.json `input_hint`:
  * transcripts(conv_id string, turn_idx int, role string, text string,
  * tool string, ts timestamp).
  */

/** One row of the target transcripts table. */
final case class TranscriptTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String, // nullable; also the schema-drift column (absent in v1 events)
    ts: Timestamp)

/** Event key. `turn_idx == null` on a tombstone means a SERIES delete:
  * all turns of the conversation (reference README.md:126-137 — delete
  * keys may be coarser than upsert keys).
  */
final case class TurnKey(conv_id: String, turn_idx: Option[Int])

/** A change event as it appears in the (Kafka stand-in) change log.
  *
  * - `partition`/`offset` are the log coordinates: offset is strictly
  *   increasing per partition and the replay-order authority (events are
  *   keyed by conv_id onto partitions, so per-key order holds within a
  *   partition — the Connect delivery contract).
  * - `op` ∈ insert | update | upsert | delete.
  * - `after == null` iff `op == delete` (tombstone).
  * - `schemaV` marks logical schema version (1 = no `tool` column).
  */
final case class ChangeEvent(
    partition: Int,
    offset: Long,
    ts: Timestamp,
    op: String,
    conv_id: String,
    turn_idx: Option[Int], // None only for series-delete tombstones
    after: Option[TranscriptTurn],
    schemaV: Int)

object Op {
  val Insert = "insert"
  val Update = "update"
  val Upsert = "upsert"
  val Delete = "delete"
  val all: Set[String] = Set(Insert, Update, Upsert, Delete)
}

/** One ingest-time extraction target: JSON `path` evaluated against the
  * payload column, landing as table column `name` typed `castTo` (Spark
  * DDL string; default "string"). Non-string types follow the reference's
  * sanctioned extract+Cast-SMT pattern (README.md:152-161): a record whose
  * raw extracted value is non-null but fails the cast is quarantined, not
  * silently nulled.
  */
final case class ExtractField(name: String, path: String, castTo: String = "string")

/** One named payload schema for multi-schema topics (reference
  * `value.converter.schema.names` + per-schema JSON match rules,
  * README.md:55-73): a record belongs to the FIRST configured schema whose
  * `matchPath` resolves non-null in its payload JSON, and that schema's
  * `extract` fields are applied to it. Records matching no schema are
  * quarantined (the reference throws a Connect exception; quarantine is
  * this engine's errant-record channel).
  */
final case class PayloadSchema(name: String, matchPath: String, extract: Seq[ExtractField])

/** Write-mode analogue of the reference's `insert.mode`
  * (`.../sink/JdbcSinkConfig.java:32-37`). In the engine the mode is
  * carried per-event in `op`, and the keys are fixed by the transcript
  * layout: (conv_id, turn_idx) is the upsert key (reference
  * `upsert.keys`) and conv_id the delete key of a series tombstone
  * (reference `delete.keys`; a tombstone with a null turn_idx deletes
  * the whole conversation). They are not configurable.
  *
  * @param numBuckets physical hash-bucket count of the table layout
  *                   (reference `partitions`, default 10,
  *                   `.../sink/JdbcSinkConfig.java:295-299`)
  * @param deleteEnabled when false, tombstones are invalid input and are
  *                    quarantined (reference `delete.enabled` +
  *                    RecordValidator, `.../sink/RecordValidator.java:44-117`)
  * @param coordinates when true, the state table carries `_partition` and
  *                    `_offset` of each row's winning event (reference
  *                    `coordinates.enabled` kafka-coordinate columns,
  *                    `.../sink/JdbcSinkConfig.java:52-59`)
  */
final case class MergeSpec(
    numBuckets: Int = 32,
    deleteEnabled: Boolean = true,
    /** Reference `auto.evolve` (`.../sink/JdbcSinkConfig.java:145-150`):
      * when false, a batch whose records would require an ALTER-ADD /
      * type-widen fails loudly instead of evolving the table — the
      * reference's DbStructure.amendIfNecessary throws rather than
      * amending. Type-compatibility violations reject either way.
      * DELIBERATE default divergence: the reference defaults auto.evolve
      * (and auto.create) to false; this engine defaults both to true for
      * back-compat with its own always-evolve behavior of earlier rounds
      * — the fail-loudly semantics when disabled are identical. */
    autoEvolve: Boolean = true,
    /** Reference `fields.whitelist`
      * (`.../sink/JdbcSinkConfig.java` fields.whitelist, applied in
      * `sink/metadata/FieldsMetadata.java:79-162`): when non-empty, only
      * these value fields of the after-struct land in the table. The key
      * columns (conv_id, turn_idx) always survive, as do
      * spec-referenced columns ([[extractSource]] while extraction or the
      * payload rename is configured) and extracted target columns (they
      * are explicit config). Applied at ingest BEFORE schema evolution,
      * so non-whitelisted drift columns never reach the table schema —
      * the PII-minimizing knob. Names not present in a batch are simply
      * inert (a whitelisted column may first appear via later drift). */
    fieldsWhitelist: Seq[String] = Nil,
    coordinates: Boolean = false,
    /** which key the fold's payload exchange targets (the fold itself
      * is MergeEngine.netActions, one window pass). Alignment applies
      * only to multi-task batches: a batch whose scan plans to one task
      * (MergeEngine.plansOneTask) folds and writes in that task with no
      * exchange to align, whichever value is set.
      *
      * "key" (default): the fold exchanges on the upsert key and the
      * delta write redistributes by bucket (AQE rebalance) — two payload
      * crossings, but every stage is narrow and AQE sizes the tasks.
      * Measured FASTER on a single socket: in interleaved same-window
      * A/Bs at local[32] "key" won every round (best 18.6s vs 35.9s for
      * "bucket" on the 24M-event replay; local[8] statistically even —
      * `BENCH/round4-runs.log`). The sandbox's shuffle is tmpfs (memcpy),
      * so eliminating an exchange buys ~nothing here, while the
      * bucket-pure alternative fuses exchange-read + sort + fold +
      * parquet encode into ≤numBuckets fat tasks whose stage tail
      * dominates once cores ≈ buckets/4.
      *
      * "bucket": the batch is exchanged once onto the table's bucket
      * key; the fold groups on (bucket, key) partition-locally and its
      * output is already laid out for the per-bucket delta write — ONE
      * payload crossing per epoch (PlanSpec pins the single-exchange
      * plan). The right alignment when shuffle crosses a real network
      * and numBuckets ≫ total cores (a 100 TB deployment: thousands of
      * buckets, each fold task still small): it halves cross-node
      * payload traffic per epoch. */
    foldAlignment: String = "key",
    /** Compact a bucket back to base files once it holds more than this
      * many delta files (bounds read-time merge work and makes write
      * amplification O(state/threshold) amortized, not O(state)).
      * 0 compacts every bucket holding a delta after each epoch, so the
      * batch's own deltas fold into base files and a read merges none.
      * A negative value disables compaction: deltas accumulate until
      * `IceLiteTable.compactDeltas` is called.
      *
      * Every batch reaches the table as merge-on-read: its net actions
      * are APPENDED as delta files (O(changes) per commit,
      * like the reference's row-level DML,
      * `.../sink/BufferedRecords.java:294-336`) and folded into the base
      * rows at read time — Iceberg's equality-delete/merge-on-read shape.
      * Read-heavy tables set this to 1 with [[morCompactBudget]] = -1:
      * each epoch then compacts every bucket holding more than one delta
      * file, so a read merges at most one delta file per bucket (the
      * latest batch's) into its base files. Threshold 0 compacts every
      * epoch's own deltas, so reads see base files only. Measured on one
      * 32-bucket table (~79k rows, `local[4]`, 7 epochs of ~24k events,
      * each followed by 20 point lookups and one full read): threshold 0
      * spent 3.37 s of task CPU per epoch writing and 0.46 s reading,
      * threshold 1 spent 2.52 s writing and 1.18 s reading (3.83 s
      * against 3.70 s). Threshold 1 stays the read-heavy setting up to
      * about 1.2x that read mix per epoch; above it threshold 0 wins. */
    morCompactThreshold: Int = 16,
    /** Compact at most this many buckets per epoch (most-
      * backlogged first). Uniformly-filling buckets all cross the
      * threshold at the same epoch; an unbudgeted compaction then
      * rewrites the whole table inline in the ingest path (measured 7-9x
      * epoch stall). 0 (default) = AUTO: ceil(numBuckets/threshold), the
      * steady-state sustainable rate — each epoch compacts ~1/threshold
      * of the table, the same amortized write amplification as bursty
      * whole-table compaction but spread evenly so no epoch stalls.
      * <0 = unbounded (strict counts<=threshold, bursty). */
    morCompactBudget: Int = 0,
    /** De-synchronize the FIRST compaction wave by lowering
      * each bucket's effective threshold by a deterministic per-bucket
      * offset in [0, stagger] (0 = off). */
    morCompactStagger: Int = 4,
    /** Ingest-time payload-field extraction (reference README.md:97-102
      * "extracting schema fields": a JSON payload field is expanded into
      * named index columns at write time, not query time). Each
      * [[ExtractField]] is evaluated with `get_json_object` against
      * [[extractSource]], cast to its `castTo` type (cast failure ⇒
      * quarantine), and appended to the after-struct BEFORE schema
      * evolution, so extracted columns become real nullable table columns
      * (ALTER-ADD on first sight). Mutually exclusive with
      * [[payloadSchemas]]. */
    extractFields: Seq[ExtractField] = Nil,
    /** The payload column inside `after` that extraction paths are
      * evaluated against. */
    extractSource: String = "text",
    /** Target TABLE column name for the payload (reference
      * `value.converter.payload.field.name`, README.md:97-102: the event
      * payload lands in a configurable column). Empty (default) keeps the
      * event's own field name ([[extractSource]]); when set, the
      * [[extractSource]] field of the after-struct is RENAMED to this on
      * the state-merge path — extraction paths still read the event-side
      * name, the table carries the target name. */
    payloadTargetName: String = "",
    /** Multi-schema payload classification (reference
      * `value.converter.schema.names`, README.md:55-73): when non-empty,
      * each record is classified to the first schema whose matchPath is
      * present in its payload and gets THAT schema's extract columns; the
      * table carries the union of all schemas' extract columns (a record's
      * non-matching columns stay null). Unmatched records are quarantined.
      * Mutually exclusive with [[extractFields]]. */
    payloadSchemas: Seq[PayloadSchema] = Nil,
    /** Reference `value.converter.allownonindexed` (README.md:104-114):
      * when false (default, as in the reference), every payload schema
      * must extract the SAME target-column set, so each extracted column
      * is populated (indexable) for every schema; true permits per-schema
      * column sets. */
    allowNonIndexed: Boolean = false)

/** Per-turn net action produced by the in-batch fold (SURVEY.md §2.A
  * A5/A6): the single effect this batch has on one (conv_id, turn_idx)
  * key, replacing the reference's buffer/flush-ordering machinery
  * (`.../sink/BufferedRecords.java:84-234`) with an order-equivalent
  * declarative form.
  */
object NetAction {
  /** unconditional write (insert/upsert, or update on a row the batch itself created) */
  val Put = "put"
  /** unconditional delete */
  val Del = "del"
  /** update only if the key exists in the base table (reference UPDATE
    * mode: unmatched rows are dropped, `.../dialect/GenericDatabaseDialect.java:998-1019`) */
  val UpdateIfExists = "upd"
  /** series wipe marker (MOR delta files only): kills every row of the
    * conversation whose commit seq is LOWER than the wipe's; same-commit
    * actions already respect the wipe (netActions filters events at or
    * before it), so they carry the same seq and survive. */
  val Wipe = "wipe"
}
