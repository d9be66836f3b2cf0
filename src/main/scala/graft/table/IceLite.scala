package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** "IceLite" — a minimal Iceberg-style table format built from scratch for
  * this engine (no Iceberg jar exists in the sandbox): immutable parquet
  * data files + a JSON snapshot log with an atomic put-if-absent commit.
  *
  * Layout:
  * {{{
  *   <dir>/snap/v0000000001.json     // one immutable snapshot DIFF per commit
  *   <dir>/snap/c0000000032.json     // periodic full-state checkpoint
  *   <dir>/data/<commitUuid>/bucket=<bucket>/part-*.parquet
  *   <dir>/data/<commitUuid>/epoch/part-*.parquet   // a one-task epoch's one file
  * }}}
  *
  * A file may be listed under several buckets. A write that runs as one
  * task — a one-task epoch's MOR delta write or event-log append —
  * writes ONE file instead of one per bucket, and the snapshot lists it
  * under exactly the buckets its rows hash to ([[stageEpochFile]]): Spark
  * pays a fixed CPU cost per parquet file written, whatever the file
  * holds. Every flatten of a snapshot's file lists therefore takes
  * distinct paths. Compaction drops a bucket's listing of a shared file
  * once the bucket's base holds its rows, so the file's rows are live
  * only for the buckets that still list it: a read of a bucket set S
  * (every bucket, for a full read) keeps from a shared file only the
  * rows with `bucketOf(conv_id) ∈ S ∩ listed(file)` ([[BucketFiles]]).
  * The file stores that bucket in a column, sorted, in small pages, so
  * the parquet page index skips the other buckets' rows. Multi-task
  * writes keep one file per bucket (`bucket=<b>/`), whose rows need no
  * filter. A shared file lives until no retained snapshot
  * lists it under any bucket.
  *
  * Commit protocol (the analogue of the reference's one-JDBC-transaction-
  * per-put batch, `/root/reference/src/main/java/io/confluent/connect/jdbc/sink/JdbcDbWriter.java:56,83`),
  * one for every writer — CDC apply, event-log append, rebucket, compact
  * and delta compaction:
  *  1. [[stage]] writes the rows into a fresh stage dir under `data/`,
  *     invisible to readers (snapshots list files explicitly, never by
  *     directory listing), and returns them as [[IceLite.Staged]].
  *  1. [[commitStaged]] runs the one after-staging test hook, then the
  *     CAS: the next snapshot file is published with an atomic
  *     create-if-absent link ([[commit]] retries a lost link on the fresh
  *     parent). An epoch-tagged commit whose epoch the parent already
  *     holds is a no-op re-delivery; a snapshot may list staged files
  *     only under the bucket count they were staged for. A failed commit
  *     deletes its stage unless the table references it; a committed one
  *     deletes the staged files its snapshot does not list.
  * A crash between staging and publish leaves only unreferenced orphan
  * files ([[removeOrphanFiles]]). Snapshot `properties` carry the
  * free-form commit bookkeeping — the `epoch:<streamId>` marker
  * ([[IceLite.Snapshot.epochs]]) and offset ranges for exactly-once
  * streaming — mirroring Iceberg snapshot summaries.
  *
  * Metadata scale (Iceberg's manifest-list idea, re-shaped for a linear
  * CAS-serialized log — concurrent writers serialize through the
  * put-if-absent commit): each published v-file holds only the DIFF of the
  * per-bucket file lists against its parent — O(files added/replaced this
  * commit), NOT O(live files). A MOR append epoch therefore writes and a
  * tailing driver parses O(changes) metadata regardless of table size;
  * the full per-bucket listing is materialized only in periodic
  * checkpoint files (`c*.json`, every [[IceLite.CheckpointEvery]] commits,
  * at create, and at the expiry boundary). State reads fold
  * checkpoint + diffs, memoized per table handle so a streaming driver
  * folds exactly one diff per epoch.
  *
  * Data is hash-bucketed by conv_id (`bucket = pmod(xxhash64(conv_id), P)`,
  * reference analogue: `PARTITION BY HASH` DDL,
  * `.../dialect/PostgreSqlDatabaseDialect.java:208-232`), so a CDC merge
  * rewrites only affected buckets and point/range queries prune by bucket.
  */
final class IceLiteTable(val dir: String) {
  import IceLite._

  private val snapDir = Paths.get(dir, "snap")
  private val dataDir = Paths.get(dir, "data")

  def currentVersion: Long =
    listSnapshotVersions.lastOption.getOrElse(0L)

  /** Retained (non-expired) snapshot versions, oldest → newest. The
    * listing the metadata tables ([[MetaTables]]) enumerate — O(retained
    * versions), never touches data files.
    */
  def versions: Seq[Long] = listSnapshotVersions

  // Files.list/Files.walk hold a directory fd until closed — a long-running
  // streaming driver calls currentVersion every epoch, so leaking them to GC
  // would exhaust the fd limit (EMFILE). Always materialize-then-close.
  private def listDir[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator.asScala) finally s.close()
  }

  private def listSnapshotVersions: Seq[Long] =
    if (!Files.isDirectory(snapDir)) Seq.empty
    else
      listDir(snapDir)(_.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
        .toSeq).sorted

  private def listCheckpointVersions: Seq[Long] =
    if (!Files.isDirectory(snapDir)) Seq.empty
    else
      listDir(snapDir)(_.map(_.getFileName.toString)
        .filter(n => n.startsWith("c") && n.endsWith(".json"))
        .map(n => n.stripPrefix("c").stripSuffix(".json").toLong)
        .toSeq).sorted

  private[table] def vFile(v: Long): Path = snapDir.resolve(f"v$v%010d.json")
  private def cFile(v: Long): Path = snapDir.resolve(f"c$v%010d.json")

  // Memoized folded state (immutable value; volatile write). A streaming
  // driver calls current every epoch with a monotonically increasing
  // version, so each call folds exactly ONE new diff on top of the cache
  // instead of re-parsing the whole per-bucket file listing (the
  // O(live-files)-per-epoch driver cost this format removes).
  @volatile private var stateCache: Snapshot = _

  /** Diffs folded by the last [[snapshot]] call — the deterministic
    * per-read metadata cost (0 = cache hit; a tailing reader sees 1 per
    * new commit). Observability/test hook, not part of the table state.
    */
  @volatile var lastFoldSteps: Int = 0

  /** Full table state as of `version`: nearest checkpoint (or the memoized
    * fold, whichever is closer) + the diff chain up to `version`.
    */
  def snapshot(version: Long): Snapshot = {
    // Expiry (on the background maintenance thread since round 4) can
    // delete a checkpoint BETWEEN this reader's list and read: it first
    // writes the new boundary checkpoint, then deletes the old ones, so
    // a re-list always sees a complete chain again. Bounded retry loop
    // (not a single retry): a second expiry can race the first re-read,
    // and the missing-file signal may arrive WRAPPED (e.g.
    // UncheckedIOException around a FileNotFound from a stream) — match
    // the cause chain, not just the top-level type.
    import IceLite.missingFile
    var attempt = 0
    while (true) {
      try return snapshot0(version)
      catch { case e: Throwable if missingFile(e) && attempt < 4 => attempt += 1 }
    }
    throw new IllegalStateException("unreachable")
  }

  private def snapshot0(version: Long): Snapshot = {
    val c = stateCache
    if (c != null && c.version == version) { lastFoldSteps = 0; return c }
    var s: Snapshot = {
      val ckv = listCheckpointVersions.filter(_ <= version) match {
        case Seq() => None
        case vs    => Some(vs.max)
      }
      val cacheUsable = c != null && c.version < version
      ckv match {
        case Some(k) if !cacheUsable || k > c.version => readCheckpoint(cFile(k))
        case _ if cacheUsable => c
        // no checkpoint but the chain is complete from v1 (e.g. a crash
        // between create()'s v1 link and its c1 checkpoint write): v1's
        // diff is against the empty parent
        case _ if listSnapshotVersions.headOption.contains(1L) => emptySnapshot
        case _ => throw new IllegalStateException(
          s"no checkpoint at or below version $version in $snapDir — corrupt or expired table metadata")
      }
    }
    var steps = 0
    while (s.version < version) {
      s = fold(s, readDiff(vFile(s.version + 1)))
      steps += 1
    }
    lastFoldSteps = steps
    val c2 = stateCache
    if (c2 == null || version > c2.version) stateCache = s
    s
  }

  def current: Snapshot = snapshot(currentVersion)

  def schema: StructType = current.schema

  def numBuckets: Int = current.numBuckets

  /** All base data files (absolute, distinct paths) of the current
    * snapshot, optionally restricted to a bucket subset — the
    * bucket-pruning path. A file listed under a bucket of the subset may
    * also hold rows of other buckets; [[baseScan]] says which to keep.
    */
  def dataFiles(buckets: Option[Set[Int]] = None): Seq[String] = baseScan(buckets).paths

  /** MOR delta files (absolute, distinct paths), optionally bucket-pruned. */
  def deltaFiles(buckets: Option[Set[Int]] = None): Seq[String] = deltaScan(buckets).paths

  /** What a read of `buckets` scans from the current snapshot's base
    * files: [[dataFiles]] with the rows to keep of each.
    */
  def baseScan(buckets: Option[Set[Int]] = None): BucketFiles = {
    val s = current
    bucketFiles(s, s.files, buckets)
  }

  /** What a read of `buckets` scans from the current snapshot's delta
    * files: [[deltaFiles]] with the rows to keep of each.
    */
  def deltaScan(buckets: Option[Set[Int]] = None): BucketFiles = {
    val s = current
    bucketFiles(s, s.deltas, buckets)
  }

  /** The files a read of `buckets` scans from `m`, one of `s`'s file
    * maps — a pinned snapshot's, so that compaction reads base state and
    * commits against the SAME snapshot — each with the buckets whose rows
    * the read keeps from it: none to filter for a one-bucket file
    * (`bucket=<b>/`), the read buckets that list it for any other file
    * ([[BucketFiles]]).
    */
  private def bucketFiles(s: Snapshot, m: Map[Int, Seq[String]], buckets: Option[Set[Int]]): BucketFiles = {
    val read = m.toSeq.sortBy(_._1).filter { case (b, _) => buckets.forall(_.contains(b)) }
    val keepOf: Map[String, Set[Int]] = read.flatMap { case (b, fs) => fs.map(_ -> b) }
      .groupMap(_._1)(_._2).map { case (f, bs) => f -> bs.toSet }
    val (own, shared) = read.flatMap(_._2).distinct.partition(rel =>
      Option(Paths.get(rel).getParent).exists(_.getFileName.toString.startsWith("bucket=")))
    def abs(fs: Seq[String]): Seq[String] = fs.map(rel => Paths.get(dir).resolve(rel).toString)
    val scans = (if (own.isEmpty) Nil else Seq(abs(own) -> None)) ++
      shared.groupBy(keepOf).toSeq.sortBy(_._1.min).map { case (k, fs) => abs(fs) -> Some(k) }
    BucketFiles(scans)
  }

  /** Read the table's current STATE (or a bucket subset): base files with
    * the current table schema — older files missing later-added columns
    * surface them as nulls (ALTER-ADD semantics for free from the parquet
    * reader) — merged at read time with any outstanding MOR delta files
    * (a no-op pass-through when there are none). Every read takes the
    * same fold ([[MorRead]]): the deltas fold once per key and the base
    * rows stream past that fold in one outer join, in one of three
    * placements: a read that names exactly one bucket runs in a single
    * task with no exchange ([[MorRead.mergedInBucket]]); a multi-bucket
    * read whose delta files total at most the broadcast threshold folds
    * its deltas in one task and broadcasts the fold, with no exchange
    * ([[MorRead.merged]]); any other read folds behind one exchange on
    * `conv_id` and lets the planner place the join. Files are scanned
    * from the snapshot's list, with no listing job ([[IceLite.readFiles]]).
    */
  def read(spark: SparkSession, buckets: Option[Set[Int]] = None): DataFrame =
    readSnapshotState(spark, current, buckets)

  /** Time travel: the table STATE as of snapshot `version` (that commit's
    * base files merged with its then-outstanding deltas, under its schema
    * version) — Iceberg's `VERSION AS OF`. Valid while the snapshot
    * survives `expireSnapshots` (expiry deletes unreferenced files).
    */
  def readAt(spark: SparkSession, version: Long, buckets: Option[Set[Int]] = None): DataFrame =
    readSnapshotState(spark, snapshot(version), buckets)

  /** Incremental change feed: the net change rows committed in
    * `(fromVersion, toVersion]` — see [[ChangeFeed.read]]. O(changes in
    * range), never O(table); valid while the range's snapshots survive
    * expiry, like [[readAt]].
    */
  def readChanges(spark: SparkSession, fromVersion: Long, toVersion: Long = -1L): DataFrame =
    ChangeFeed.read(spark, this, fromVersion, toVersion)

  // ------------------------------------------------------------------
  // Named refs + rollback (B10)
  // ------------------------------------------------------------------

  private val refsDir = Paths.get(dir, "refs")

  /** Named refs: human-named pointers to snapshot versions — the
    * reproducibility primitive a training pipeline needs ("the exact
    * corpus run 17 trained on") and the anchor that stops
    * [[expireSnapshots]] from GC'ing a snapshot still referenced by
    * name. One tiny file per ref; re-tagging a name repoints it
    * (atomic replace, last writer wins — git-tag -f semantics).
    * Analogue: Iceberg table refs; the reference engine has no table
    * format, so no reference citation applies.
    */
  def tags: Map[String, Long] =
    if (!Files.isDirectory(refsDir)) Map.empty
    else listDir(refsDir)(_.filter(p => !p.getFileName.toString.startsWith(".")).toSeq)
      .flatMap { p =>
        scala.util.Try(p.getFileName.toString -> Files.readString(p).trim.toLong).toOption
      }.toMap

  /** `name`, checked as a ref or audit name. Leading '.' is rejected (not
    * just '..' traversal — dotfiles are the tmp-file namespace and are
    * excluded from the [[tags]] and [[audits]] listings, so a dot-named
    * ref or audit would be unlistable).
    */
  private def validName(kind: String, name: String): String = {
    require(name.nonEmpty && !name.startsWith(".") &&
      name.forall(c => c.isLetterOrDigit || "-_.".contains(c)),
      s"$kind name '$name' must be [A-Za-z0-9_-][A-Za-z0-9._-]*")
    name
  }

  private def refPath(name: String): Path = refsDir.resolve(validName("ref", name))

  /** Tag `version` (default: current) as `name`. Validates the snapshot
    * is readable before pointing at it. Returns the tagged version.
    *
    * Metadata-growth note: a long-lived tag pins the diff chain above
    * it (expiry keeps every v-file ≥ the oldest tag — one small diff
    * json per commit since the tag, data files shared, not duplicated).
    * Drop tags you no longer need; the next expiry reclaims the chain.
    */
  def tag(name: String, version: Long = -1L): Long = {
    val target = refPath(name)
    // Serialized against expireSnapshots (same JVM): expiry computes its
    // keep window from one read of the tag set, so a tag of an older
    // version racing it could land AFTER that read and point at a chain
    // the expiry is about to delete — violating the pinning contract.
    IceLite.refLock(dir).synchronized {
      val v = if (version < 0) currentVersion else version
      snapshot(v) // throws if the version never existed or is already expired
      Files.createDirectories(refsDir)
      // atomic REPLACE (not writeAtomically's put-if-absent): re-tagging
      // must repoint the name, and a reader never sees a partial file
      val tmp = refsDir.resolve(s".tmp-${UUID.randomUUID()}")
      Files.writeString(tmp, v.toString)
      Files.move(tmp, target,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      // Cross-process best-effort: an expiry in ANOTHER process may have
      // read its tag set before our ref landed. Re-check the ON-DISK
      // marker now the ref is visible (snapshot() could answer from the
      // in-JVM memo and miss a foreign delete): an expiry that dropped v
      // removed its v-file and wrote no checkpoint at it. If it is gone,
      // un-publish and fail loudly instead of leaving a dangling ref.
      if (!Files.exists(vFile(v)) && !Files.exists(cFile(v))) {
        Files.deleteIfExists(target)
        throw new IllegalStateException(
          s"tag '$name': snapshot v$v was expired concurrently (ref rolled back)")
      }
      v
    }
  }

  /** Drop ref `name`; its snapshot becomes expirable again. */
  def dropTag(name: String): Boolean = Files.deleteIfExists(refPath(name))

  /** Time travel by name: [[readAt]] the version ref `name` points to. */
  def readAtTag(spark: SparkSession, name: String,
                buckets: Option[Set[Int]] = None): DataFrame =
    readAt(spark, tags.getOrElse(name,
      throw new NoSuchElementException(s"no ref '$name' on table $dir")), buckets)

  /** Roll the table's CURRENT state back to `toVersion`'s (bad-batch
    * recovery): commits a NEW snapshot carrying the target's exact
    * file/delta/schema/property state. History is preserved — the bad
    * versions stay time-travelable until expiry — and the operation
    * composes with concurrent writers through the normal commit CAS.
    * Copying the target's properties also rolls back the epoch
    * high-water bookkeeping, so a redelivery of a rolled-back epoch
    * APPLIES again instead of being skipped — exactly-once semantics
    * follow the state, not the wall clock. `lastDeltaSeq` is the
    * target's (its delta rows all carry seq ≤ it); the next MOR commit
    * stamps seq = version+1, which is strictly above any row in the
    * restored delta set.
    *
    * Feed contract: a rollback is NOT expressible as incremental change
    * rows (the reverted rows were never re-written) — [[readChanges]]
    * over a range containing one throws loudly, and feed consumers
    * (mirror, incremental views, SCD2) must re-bootstrap from a fresh
    * snapshot. The commit stamps its own `rollbackTo` metrics key so the
    * feed can tell it apart from the target's original commit kind.
    *
    * Streaming note: a Structured Streaming checkpoint is NOT rolled
    * back with the table — the source will not redeliver epochs its
    * checkpoint already committed. The restored epoch properties make a
    * REDELIVERED rolled-back epoch apply (not skip), so to re-ingest
    * the reverted range restart the stream from a fresh checkpoint (or
    * a new streamId, per the high-water WARN in CdcApply.warnBelowMark).
    */
  def rollback(toVersion: Long): Snapshot = {
    // validate eagerly: commit's build callback may retry under CAS, and
    // the version check can only become MORE true as the parent advances
    require(toVersion >= 1 && toVersion <= currentVersion,
      s"rollback target v$toVersion is outside [1, v$currentVersion]")
    val target = snapshot(toVersion)
    commit { parent =>
      target.copy(
        properties = target.properties +
          ("rollback.to" -> toVersion.toString) +
          ("rollback.from" -> parent.version.toString),
        metrics = Map("rollbackTo" -> toVersion, "rollbackFrom" -> parent.version))
    }
  }

  /** Re-bucket the table: rewrite the CURRENT state (outstanding MOR
    * deltas folded in) into `newNumBuckets` hash buckets and commit the
    * new layout atomically — the operation a table needs when it has
    * outgrown its bucket count. Bucket count bounds write parallelism,
    * compaction granularity and point-read pruning fan-out, and the
    * day-one choice rarely survives a 100 TB growth curve. O(live
    * table) by nature, but a single exchange: one base∪delta read, one
    * rebalance onto the new bucket id, one sorted+bloomed zstd write.
    *
    * Consistency: numBuckets is PER SNAPSHOT, so time travel and bucket
    * pruning of old versions keep the old layout. State is unchanged —
    * the change feed treats the commit as state-preserving (like
    * compaction) and epoch bookkeeping carries over untouched. A
    * concurrent commit between the state read and the CAS aborts the
    * rebucket, deleting its staged rewrite (re-run it); conversely, a
    * write staged under the old layout is fenced by [[commitStaged]] and
    * aborts rather than landing rows in wrong buckets.
    */
  def rebucket(spark: SparkSession, newNumBuckets: Int): Snapshot = {
    import org.apache.spark.sql.functions.col
    require(newNumBuckets > 0, s"newNumBuckets must be positive, got $newNumBuckets")
    val cur = current
    if (newNumBuckets == cur.numBuckets) return cur
    val staged = stage(spark,
      readSnapshotState(spark, cur, None)
        .withColumn("bucket", IceLite.bucketOf(col("conv_id"), newNumBuckets))
        .hint("rebalance", "bucket"),
      newNumBuckets, oneTask = false, Seq("conv_id", "turn_idx"), BaseFileOptions)
    commitStaged(staged) { parent =>
      if (parent.version != cur.version)
        throw new IllegalStateException(
          s"rebucket of $dir raced: rewrote v${cur.version} but v${parent.version} " +
            "committed meanwhile — re-run rebucket (staged files deleted)")
      parent.copy(
        numBuckets = newNumBuckets,
        files = staged.files,
        deltas = Map.empty,
        metrics = Map(
          "rebucketFrom" -> cur.numBuckets.toLong,
          "rebucketTo" -> newNumBuckets.toLong))
    }.get
  }

  // ------------------------------------------------------------------
  // Write-audit-publish (B12)
  // ------------------------------------------------------------------

  private val auditsDir = Paths.get(dir, "audits")

  private def auditPath(name: String): Path = auditsDir.resolve(s"${validName("audit", name)}.json")

  /** Unpublished audits: name → the parent version each was staged on.
    *
    * Write-audit-publish is the curation gate a training-data pipeline
    * runs before data goes live: apply a batch so its FULL would-be
    * snapshot is staged under a name (data files written, table pointer
    * untouched), run audit queries against [[readAudit]] (contamination,
    * dedup rates, PII scans — the q41/q30-class checks), then
    * [[publishAudit]] atomically or [[discardAudit]]. Iceberg's
    * WAP-branch pattern re-expressed on IceLite's snapshot log; the
    * reference's analogue is its per-put transaction boundary
    * (`.../sink/JdbcDbWriter.java:56,83`) — WAP widens that boundary to
    * "after a human/automated audit", which JDBC autocommit cannot.
    */
  def audits: Map[String, Long] =
    if (!Files.isDirectory(auditsDir)) Map.empty
    else listDir(auditsDir)(_.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".json") && !n.startsWith(".")
    }.toSeq).flatMap { p =>
      scala.util.Try(
        p.getFileName.toString.stripSuffix(".json") -> readSnapshot(p).parentVersion).toOption
    }.toMap

  /** Stage `build`'s result as the named UNPUBLISHED audit snapshot:
    * `build` sees the current snapshot as parent and its result is
    * written as a self-sufficient FULL snapshot json under `audits/` —
    * invisible to version listings, time travel, the change feed and
    * expiry. Re-staging a name replaces it (the previous stage's files
    * become crash-class orphans unless [[discardAudit]] ran first —
    * [[removeOrphanFiles]] collects them).
    * Expiry note: the audit shares its parent's data files; since
    * `keepLast >= 1` always keeps the current version and a publish is
    * only valid while the parent IS current, expiry cannot break a
    * still-publishable audit.
    */
  private[graft] def stageAudit(name: String, build: Snapshot => Snapshot): Snapshot = {
    val target = auditPath(name)
    val base = current
    val next0 = build(base).copy(version = base.version + 1, parentVersion = base.version)
    val next = next0.copy(
      files = next0.files.filter(_._2.nonEmpty),
      deltas = next0.deltas.filter(_._2.nonEmpty))
    Files.createDirectories(auditsDir)
    val tmp = auditsDir.resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.writeString(tmp, toJson(next))
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** The staged audit snapshot (metadata view). */
  def auditSnapshot(name: String): Snapshot = {
    val p = auditPath(name)
    if (!Files.exists(p)) throw new NoSuchElementException(s"no audit '$name' on table $dir")
    readSnapshot(p)
  }

  /** The audited WOULD-BE state — what [[read]] will return after
    * [[publishAudit]]. Bucket-prunable like any read; audit queries and
    * the whole query surface run against this frame unchanged.
    */
  def readAudit(spark: SparkSession, name: String,
                buckets: Option[Set[Int]] = None): DataFrame =
    readSnapshotState(spark, auditSnapshot(name), buckets)

  /** Atomically publish the audit: one CAS commit carrying the staged
    * snapshot's exact file/delta/schema/property state (epoch markers
    * land with it — a redelivery of the audited batch after publish is
    * the usual no-op). Fails LOUDLY if any commit landed since the stage
    * (the audited state no longer describes current+batch): discard and
    * re-stage — same contract as the rebucket fence.
    */
  def publishAudit(name: String): Snapshot = {
    val a = auditSnapshot(name)
    val snap = commit { parent =>
      if (parent.version != a.parentVersion)
        throw new IllegalStateException(
          s"audit '$name' was staged against v${a.parentVersion} but $dir is now at " +
            s"v${parent.version} — discardAudit and re-stage the batch")
      a
    }
    Files.deleteIfExists(auditPath(name))
    snap
  }

  /** Drop the audit and delete the data files that belong to IT alone
    * (everything its snapshot references that its parent does not). If
    * the parent has already been expired the files are left on disk —
    * the crash-orphan class, collected by [[removeOrphanFiles]] — rather
    * than risking a wrong delete here.
    */
  def discardAudit(name: String): Boolean = {
    val p = auditPath(name)
    if (!Files.exists(p)) return false
    val a = readSnapshot(p)
    Files.deleteIfExists(p)
    scala.util.Try(snapshot(a.parentVersion)).toOption.foreach { par =>
      (a.allFiles.toSet -- par.allFiles).foreach(rel => Files.deleteIfExists(Paths.get(dir).resolve(rel)))
    }
    true
  }

  private def readSnapshotState(
      spark: SparkSession, s: Snapshot, buckets: Option[Set[Int]]): DataFrame = {
    val sch = s.schema
    val base = bucketFiles(s, s.files, buckets).read(spark, sch)
    val deltas = bucketFiles(s, s.deltas, buckets)
    if (buckets.exists(_.size == 1)) MorRead.mergedInBucket(spark, sch, base, deltas)
    else MorRead.merged(spark, sch, base, deltas)
  }

  /** Base files only — MOR deltas NOT applied (the base input of an
    * explicit [[MorRead]] merge). */
  def readBase(spark: SparkSession, buckets: Option[Set[Int]] = None): DataFrame =
    baseScan(buckets).read(spark, schema)

  /** Fresh unique staging directory for one commit's data files. */
  private[graft] def newStageDir(): Path = {
    val p = dataDir.resolve(UUID.randomUUID().toString)
    Files.createDirectories(p)
    p
  }

  /** Stage `rows` — carrying a `bucket` column computed for `numBuckets`
    * buckets — in a fresh stage dir, for [[commitStaged]]. A write that
    * runs as one task (`oneTask`) goes to ONE file listed under every
    * bucket its rows hold ([[stageEpochFile]]); any other goes to one
    * file per bucket and task (`bucket=<b>/`), so `rows` arrives
    * distributed as the writer wants its files. Each file is sorted by
    * bucket, then `sortCols`, and written with the writer `options`.
    */
  def stage(spark: SparkSession, rows: DataFrame, numBuckets: Int, oneTask: Boolean,
            sortCols: Seq[String], options: Map[String, String]): Staged = {
    import org.apache.spark.sql.functions.col
    staging(spark, numBuckets) { stageDir =>
      if (oneTask) stageEpochFile(spark, rows.coalesce(1), stageDir, sortCols, options)
      else {
        rows.sortWithinPartitions(("bucket" +: sortCols).map(col): _*)
          .write.mode("overwrite").options(options)
          .partitionBy("bucket")
          .parquet(stageDir.toString)
        stagedFilesByBucket(stageDir)
      }
    }
  }

  /** The one stage step under [[stage]] and [[compactDeltas]]: a fresh
    * stage dir, `write` into it (returning the files it wrote per
    * bucket), and the dir deleted again when the write fails.
    */
  private def staging(spark: SparkSession, numBuckets: Int)(write: Path => Map[Int, Seq[String]]): Staged = {
    val stageDir = newStageDir()
    val files =
      try write(stageDir)
      catch { case e: Throwable => dropStageDir(stageDir); throw e }
    new Staged(stageDir, files, numBuckets,
      footerRowCount(spark, files.values.flatten.toSeq.distinct.map(rel => Paths.get(dir).resolve(rel).toString)))
  }

  /** Collect staged parquet files per bucket (written with
    * partitionBy("bucket") as b=N subdirs), as table-relative paths.
    */
  private def stagedFilesByBucket(stage: Path): Map[Int, Seq[String]] =
    if (!Files.isDirectory(stage)) Map.empty
    else
      listDir(stage)(_.filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("bucket="))
        .map { bdir =>
          val b = bdir.getFileName.toString.stripPrefix("bucket=").toInt
          val fs = listDir(bdir)(_.filter(_.getFileName.toString.endsWith(".parquet"))
            .map(p => Paths.get(dir).relativize(p).toString)
            .toSeq).sorted
          b -> fs
        }
        .toMap)

  /** Stage the one file of a write that runs as one task: `rows` (one
    * partition, holding the `bucket` column) sorted by bucket, then
    * `sortCols`, written with the writer `options` into `stage/epoch/`.
    * Returns the file listed under exactly the buckets its rows hash to
    * — a map of one file, or empty when no row was written.
    *
    * The file keeps the `bucket` column, and its pages hold at most
    * [[IceLite.EpochPageRows]] rows: a read of some of its buckets pushes
    * `bucket IN (...)` down to the parquet reader, whose page index then
    * skips the pages of every other bucket ([[BucketFiles]]).
    *
    * The bucket set is observed on the written rows themselves, as a set:
    * a re-run task adds the same elements, so a stage retry cannot
    * inflate it the way it can a counter. Where the observation comes
    * back without it (Spark drops the observing node from a plan it
    * proves empty), the set is read back from the file.
    */
  private def stageEpochFile(spark: SparkSession, rows: DataFrame, stage: Path, sortCols: Seq[String],
                             options: Map[String, String]): Map[Int, Seq[String]] = {
    import org.apache.spark.sql.functions.{col, collect_set}
    val out = stage.resolve("epoch")
    val obs = org.apache.spark.sql.Observation()
    rows.sortWithinPartitions(("bucket" +: sortCols).map(col): _*)
      .observe(obs, collect_set(col("bucket")).as("buckets"))
      .write.mode("overwrite").options(options)
      .option("parquet.page.row.count.limit", IceLite.EpochPageRows.toString)
      .parquet(out.toString)
    val files =
      if (!Files.isDirectory(out)) Seq.empty
      else listDir(out)(_.filter(_.getFileName.toString.endsWith(".parquet")).toSeq).sorted
    val observed = obs.get.get("buckets").collect { case bs: scala.collection.Seq[_] => bs.map(_.asInstanceOf[Int]) }
    lazy val readBack = IceLite.readFiles(spark, StructType(Seq(IceLite.BucketField)), files.map(_.toString))
      .distinct().collect().map(_.getInt(0)).toSeq
    val buckets = if (files.isEmpty) Seq.empty else observed.getOrElse(readBack)
    if (buckets.isEmpty) { dropStageDir(out); Map.empty }
    else {
      val rels = files.map(p => Paths.get(dir).relativize(p).toString)
      buckets.sorted.map(_ -> rels).toMap
    }
  }

  /** Commit what `staged` holds: the one after-staging test hook
    * ([[IceLite.testOnStaged]]), then the CAS [[commit]] of `build` — or,
    * with `audit`, the staging of its snapshot under that audit name
    * ([[stageAudit]]). Around `build`:
    *  - an `epoch` the parent already holds is a re-delivery: nothing is
    *    committed and the result is None; any other epoch's marker rides
    *    the commit ([[IceLite.epochProperty]]);
    *  - a snapshot may list staged files only under the bucket count they
    *    were staged for: files staged under a layout a rebucket has since
    *    replaced fail the commit instead of landing in wrong buckets.
    * A commit that fails (or skips) deletes the stage, unless the table
    * references it: a throw can escape after the durable CAS, e.g. an
    * interrupt. A committed one deletes the staged files its snapshot
    * does not list — those a race guard in `build` left out. Returns the
    * committed snapshot; always Some without an `epoch`.
    */
  def commitStaged(staged: Staged, epoch: Option[(String, Long)] = None, audit: Option[String] = None)(
      build: Snapshot => Snapshot): Option[Snapshot] = {
    Option(IceLite.testOnStaged.getAndSet(null)).foreach(_.apply())
    val child: Snapshot => Snapshot = { parent =>
      if (parent.applied(epoch)) throw AlreadyApplied
      val next = build(parent)
      if (next.numBuckets != staged.numBuckets && staged.listedIn(next).nonEmpty)
        throw new IllegalStateException(
          s"table $dir was re-bucketed (${staged.numBuckets} -> ${next.numBuckets}) while " +
            "this batch was staged under the old layout — re-apply the batch")
      next.copy(properties = next.properties ++ epochProperty(epoch))
    }
    val snap =
      try Some(audit.fold(commit(child))(stageAudit(_, child)))
      catch {
        case e: Throwable =>
          if (!stageCommitted(staged.paths)) dropStageDir(staged.dir)
          if (e eq AlreadyApplied) None else throw e
      }
    snap.foreach(s => dropUnlisted(staged, staged.listedIn(s)))
    snap
  }

  /** Expire snapshots older than the last `keepLast`, then delete data
    * files no longer referenced by any surviving snapshot (orphan GC —
    * Iceberg's expire_snapshots + remove_orphan_files). Returns
    * (snapshotsDeleted, dataFilesDeleted). Readers of surviving snapshots
    * are unaffected: expiry never touches referenced files.
    *
    * Crash-tolerant: a crash partway through a PREVIOUS expiry's v-file
    * deletes (after its boundary checkpoint landed) leaves orphan diff
    * v-files whose ancestor chain is gone. The fold therefore seeds from
    * the OLDEST state with a complete forward chain (a checkpoint at or
    * above `oldest surviving v - 1`, or the empty parent when the chain
    * starts at v1); v-files below that seed are deleted WITHOUT
    * orphan-ref collection — their data refs are unknowable without the
    * expired ancestors, so files only they referenced stay on disk (same class as pre-publish crash
    * orphans; [[removeOrphanFiles]] collects both) rather than risking a
    * wrong delete.
    *
    * `keepLast` is clamped to >= 1: keeping zero snapshots would delete
    * every v-file and leave an unloadable table (checkpoints survive but
    * currentVersion would be 0).
    */
  def expireSnapshots(keepLast: Int = 2): (Int, Int) =
    // Holds the table's ref lock for the whole run: the keep window is
    // computed from ONE read of the tag set, so a concurrent in-process
    // tag() of an older version landing after that read would pin
    // nothing and be left pointing at the chain this run deletes.
    // Expiry is maintenance-cadence work (sub-second on the metadata
    // sizes it is budgeted for) — serializing rare tag() calls behind it
    // is the correct trade.
    IceLite.refLock(dir).synchronized { expireSnapshots0(keepLast) }

  private def expireSnapshots0(keepLast: Int): (Int, Int) = {
    val keepN = math.max(1, keepLast)
    val versions = listSnapshotVersions
    if (versions.isEmpty) return (0, 0)
    val suffix = foldableSuffix(versions)
    // tagged versions are pinned: the keep window extends DOWN to the
    // oldest readable tagged version, keeping the contiguous diff chain
    // above it (the expiry boundary below gets a checkpoint, so the
    // tagged snapshot stays foldable forever). Tags pointing outside the
    // foldable suffix are already unreadable — they don't pin anything.
    val suffixSet = suffix.toSet
    val minTagged = tags.values.filter(suffixSet).reduceOption(_ min _)
    val cut = suffix.takeRight(keepN).head
    val keep = suffix.dropWhile(_ < math.min(cut, minTagged.getOrElse(cut)))
    val keepSet = keep.toSet
    val drop = versions.filterNot(keepSet)
    if (drop.isEmpty) return (0, 0)
    // fold seed: oldest checkpoint whose forward chain is complete; else
    // the empty parent (chain from v1)
    val h = suffix.head
    val usableCks = listCheckpointVersions.filter(c => c >= h - 1 && c <= versions.last)
    var s: Snapshot =
      if (usableCks.nonEmpty) readCheckpoint(cFile(usableCks.min))
      else if (h == 1L) emptySnapshot
      else throw new IllegalStateException(
        s"cannot expire $dir: no checkpoint at or above v${h - 1} seeds the oldest foldable " +
          s"v-file v$h — corrupt table metadata")
    // kept versions BELOW the fold seed are unreadable anyway (their
    // ancestor diffs are gone — a previous crash already orphaned them):
    // expire them too rather than keeping v-files that cannot be opened
    val keepLive = keep.filter(_ >= s.version)
    val dropAll = versions.filterNot(keepLive.toSet)
    val isDrop = dropAll.toSet
    val deadRefs = scala.collection.mutable.Set.empty[String]
    val liveRefs = scala.collection.mutable.Set.empty[String]
    var boundary: Snapshot = null
    def record(x: Snapshot): Unit = {
      (if (isDrop(x.version)) deadRefs else liveRefs) ++= x.allFiles
      if (keepLive.headOption.contains(x.version)) boundary = x
    }
    record(s)
    suffix.filter(_ > s.version).foreach { v =>
      s = fold(s, readDiff(vFile(v)))
      record(s)
    }
    // The oldest SURVIVING version must stay readable after its ancestor
    // diffs are gone: checkpoint it first, then drop diffs + checkpoints
    // below the boundary.
    if (boundary != null && !Files.exists(cFile(boundary.version)))
      writeAtomically(cFile(boundary.version), toJson(boundary))
    val dead = deadRefs.toSet -- liveRefs
    dead.foreach(rel => Files.deleteIfExists(Paths.get(dir).resolve(rel)))
    dropAll.foreach(v => Files.deleteIfExists(vFile(v)))
    keepLive.headOption.foreach { b => listCheckpointVersions.filter(_ < b).foreach(v => Files.deleteIfExists(cFile(v))) }
    // the memoized fold may reference an expired ancestor chain only via
    // values (immutable) — safe to keep; readers of kept versions fold
    // from the new boundary checkpoint.
    sweepEmptyCommitDirs()
    (dropAll.size, dead.size)
  }

  /** The contiguous run of `versions` (ascending) ending at the newest:
    * the foldable chain. Anything below a gap is a crashed-expiry
    * leftover.
    */
  private def foldableSuffix(versions: Seq[Long]): List[Long] =
    versions.foldLeft(List.empty[Long]) {
      case (prev :: rest, v) if v == prev + 1 => v :: prev :: rest
      case (_, v)                             => List(v)
    }.reverse

  /** Remove commit dirs holding no data (all files deleted or never
    * committed); a dir with any non-empty bucket subdir survives.
    */
  private def sweepEmptyCommitDirs(): Unit =
    if (Files.isDirectory(dataDir))
      listDir(dataDir)(_.filter(Files.isDirectory(_)).toSeq).foreach { d =>
        val empty = !listDir(d)(_.exists(p =>
          Files.isDirectory(p) && listDir(p)(_.nonEmpty)))
        if (empty) dropStageDir(d)
      }

  /** Delete a stage dir that will never be committed (raced, skipped or
    * failed writers), or a commit dir left empty. Never called on a dir
    * whose files a snapshot references. Best-effort: it runs inside catch
    * blocks, and a cleanup failure must never mask the original
    * commit/race exception (leftovers fall to [[removeOrphanFiles]]).
    */
  private def dropStageDir(stage: Path): Unit =
    try {
      if (Files.isDirectory(stage)) {
        val w = Files.walk(stage)
        try w.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally w.close()
      }
    } catch {
      case scala.util.control.NonFatal(e) => System.err.println(
        s"[graft] WARN failed to drop stage dir $stage (removeOrphanFiles collects it): $e")
    }

  /** False only when the CURRENT snapshot verifiably references none of
    * `rels` — the guard a failed-commit cleanup needs: an exception can
    * escape commit() or its caller AFTER the CAS durably landed (e.g. an
    * interrupt), and deleting staged files the committed snapshot
    * references would lose data. Unknown (metadata unreadable) reads as
    * "committed": keep the files, let [[removeOrphanFiles]] decide later.
    */
  private def stageCommitted(rels: Set[String]): Boolean =
    scala.util.Try(current.allFiles.exists(rels)).getOrElse(true)

  /** Delete data files referenced by NO reachable snapshot — Iceberg's
    * `remove_orphan_files`. [[expireSnapshots]]'s dead-ref collection only
    * sees files referenced by the snapshots it drops; files that never
    * made it into ANY commit — a writer that crashed between staging and
    * commit, a raced rebucket/compaction whose cleanup itself crashed, a
    * staged audit abandoned without [[discardAudit]] — are invisible to
    * it and accumulate forever. This is their collector.
    *
    * Live set = every file referenced by any READABLE version (walked
    * via the same checkpoint-seeded fold readers use, so versions kept
    * alive by an old checkpoint are protected), any checkpoint, and any
    * staged audit. A file outside that set is deleted only when older
    * than `graceMs` (modification time) — the grace window protects
    * files a CONCURRENT writer staged but has not committed yet, so the
    * default (24h, the usual Iceberg guidance) must exceed the longest
    * plausible staging job (a full-table rebucket included); pass 0 only
    * when no writer can be in flight, negative to disable (returns 0 —
    * the StreamConfig.orphanGraceMs contract). Metadata reads are STRICT:
    * any read failure outside the known below-a-crashed-expiry-gap
    * signals aborts the sweep loudly — a shrunken live set would turn
    * repairable metadata corruption into data deletion. Holds the
    * table's ref lock: a concurrent expiry rewrites the checkpoint seed
    * mid-walk otherwise.
    *
    * Scale: one driver-side walk of the data dir (O(live files) — bounded
    * by the compaction story) + one metadata-chain fold (O(retained
    * versions), same class as expiry). No Spark job.
    *
    * Returns the number of data files deleted.
    */
  def removeOrphanFiles(graceMs: Long = 86400000L): Int =
    IceLite.refLock(dir).synchronized {
      if (graceMs < 0) return 0 // disabled — matches StreamConfig.orphanGraceMs semantics
      if (!Files.isDirectory(dataDir)) return 0
      val live = scala.collection.mutable.Set.empty[String]
      // METADATA READS ARE STRICT: a swallowed read failure here would
      // shrink the live set and turn repairable metadata corruption (a
      // bad checkpoint is re-derivable from an earlier one + diffs) into
      // data deletion — the sweep must abort loudly instead and retry a
      // later cadence. The ONLY tolerated failures are the two known
      // unreadable-by-design signals on versions BELOW a crashed-expiry
      // gap (no fold seed / expiry-raced missing file): those versions
      // are unreadable for every reader, so their refs are exactly the
      // orphan class this op collects.
      val versions = listSnapshotVersions
      val suffix = foldableSuffix(versions).toSet
      versions.foreach { v =>
        if (suffix(v)) live ++= snapshot(v).allFiles // the readable-by-contract chain
        else try live ++= snapshot(v).allFiles catch {
          case _: IllegalStateException                 => // below the gap: no fold seed
          case e: Throwable if IceLite.missingFile(e)   => // expiry leftover raced away
        }
      }
      // checkpoint-only versions (their v-file expired but the checkpoint
      // still seeds reads) and staged audits are reachable too — strict;
      // note `audits` swallows read failures (a listing convenience), so
      // list the audit files directly here
      listCheckpointVersions.foreach(c => live ++= readCheckpoint(cFile(c)).allFiles)
      if (Files.isDirectory(auditsDir))
        listDir(auditsDir)(_.filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".json") && !n.startsWith(".")
        }.toSeq).foreach(p => live ++= readSnapshot(p).allFiles)
      val cutoff = System.currentTimeMillis() - graceMs
      var removed = 0
      // a concurrent writer renaming its temp files mid-walk surfaces as
      // a missing-file signal — skip that path (it is inside the grace
      // window by construction), never abort the maintenance op on it
      val files =
        try {
          val w = Files.walk(dataDir)
          try w.iterator.asScala.filter(Files.isRegularFile(_)).toSeq finally w.close()
        } catch { case e: Throwable if IceLite.missingFile(e) => Seq.empty[Path] }
      files.foreach { p =>
        val rel = Paths.get(dir).relativize(p).toString
        val name = p.getFileName.toString
        // a live file's checksum sibling (Hadoop local FS `.x.crc`) lives
        // with its owner
        val ownerLive = name.startsWith(".") && name.endsWith(".crc") &&
          live(Paths.get(dir).relativize(
            p.getParent.resolve(name.stripPrefix(".").stripSuffix(".crc"))).toString)
        val aged = scala.util.Try(Files.getLastModifiedTime(p).toMillis < cutoff)
          .getOrElse(false) // vanished mid-walk -> a writer owns it, skip
        if (!live(rel) && !ownerLive && aged) {
          Files.deleteIfExists(p)
          if (name.endsWith(".parquet")) removed += 1
        }
      }
      sweepEmptyCommitDirs()
      removed
    }

  /** Compact buckets that have accumulated more than `maxFilesPerBucket`
    * data files (append-mode fragmentation) into one sorted file each.
    * Returns the number of buckets compacted.
    *
    * Generational mode (`onlySmallerThan` < Long.MaxValue): only files
    * below the size threshold are folded — previously-compacted large
    * files are left in place untouched. An append-only event log adds
    * one-plus small files per bucket per epoch forever; whole-bucket
    * compaction re-reads O(history) each run, while the generational run
    * costs O(data appended since the last run) — the LSM size-tier
    * shape, amortized O(1) per epoch. The fold keeps per-bucket file
    * order (big survivors first, then the new merged file).
    *
    * One job compacts every target bucket: it scans each target file
    * once, however many buckets list it, and keeps a row for the bucket
    * it hashes to only when that bucket is a target listing the row's
    * file — a shared file's rows of other buckets, and rows a bucket
    * already compacted out of it, stay behind. One exchange on the
    * bucket then sorts and writes one file per bucket.
    */
  def compact(spark: SparkSession, maxFilesPerBucket: Int = 8,
              sortCols: Seq[String] = Seq("conv_id", "turn_idx"),
              onlySmallerThan: Long = Long.MaxValue): Int = {
    import org.apache.spark.sql.functions.col
    val cur = current
    def smallOf(fs: Seq[String]): Seq[String] =
      if (onlySmallerThan == Long.MaxValue) fs
      else fs.filter { rel =>
        val p = Paths.get(dir).resolve(rel)
        Files.exists(p) && Files.size(p) < onlySmallerThan
      }
    val targets: Map[Int, Seq[String]] = cur.files
      .map { case (b, fs) => b -> smallOf(fs) }
      .filter(_._2.size > maxFilesPerBucket)
    if (targets.isEmpty) return 0
    // the target buckets' small files, each read once, its rows kept only
    // for the target buckets listing it
    val staged = stage(spark,
      bucketFiles(cur, targets, None).read(spark, cur.schema)
        .withColumn("bucket", IceLite.bucketOf(col("conv_id"), cur.numBuckets))
        .repartition(math.min(targets.size, math.max(1, spark.sparkContext.defaultParallelism)), col("bucket")),
      cur.numBuckets, oneTask = false, sortCols, BaseFileOptions)
    // the COMMITTED count — the race guard may drop buckets a concurrent
    // commit touched, and commitStaged deletes their staged merges
    commitStaged(staged) { parent =>
      // replace a bucket only if no concurrent commit changed it since we
      // read `cur` — otherwise dropping the newer files would lose data
      val safe = staged.files.filter { case (b, _) => parent.files.get(b).contains(cur.files(b)) }
      parent.copy(
        files = parent.files ++ safe.map { case (b, merged) =>
          b -> ((cur.files(b).diff(targets(b))) ++ merged)
        },
        metrics = Map("bucketsCompacted" -> safe.size.toLong))
    }.get.metrics("bucketsCompacted").toInt
  }

  /** Delete the staged files of `staged` outside `listed` — those the
    * commit's race guard dropped — then tidy ONLY this stage dir (the
    * global empty-dir sweep stays with expiry/removeOrphanFiles —
    * re-walking every historical commit dir per commit would be wasted
    * IO).
    */
  private def dropUnlisted(staged: Staged, listed: Set[String]): Unit = {
    val unlisted = staged.paths -- listed
    if (unlisted.nonEmpty || listed.isEmpty) {
      unlisted.foreach(rel => Files.deleteIfExists(Paths.get(dir).resolve(rel)))
      if (Files.isDirectory(staged.dir)) {
        listDir(staged.dir)(_.filter(Files.isDirectory(_)).toSeq)
          .foreach(bdir => if (listDir(bdir)(_.isEmpty)) Files.deleteIfExists(bdir))
        val anyData = listDir(staged.dir)(_.exists(p =>
          Files.isDirectory(p) && listDir(p)(_.nonEmpty)))
        if (!anyData) dropStageDir(staged.dir) // nothing committed into it
      }
    }
  }

  /** Fold outstanding MOR delta files back into base files for buckets
    * holding more than `maxDeltasPerBucket` of them — the rewrite
    * moment, amortized (Iceberg's rewrite_data_files + delete-file
    * removal). Returns the number of buckets compacted. Each bucket is
    * rewritten by its own one-task job — merged, sorted by
    * `(conv_id, turn_idx)`, written as one zstd + bloom file — and the
    * jobs run side by side. A delta file shared with other buckets is
    * filtered to the bucket's own rows, and only the bucket's listing of
    * it is dropped: the buckets not compacted keep theirs.
    *
    * Bounded-work mode (`maxBuckets`): compact at most that many buckets
    * per call, most-backlogged first. Uniformly-filling buckets would
    * otherwise ALL cross the threshold at the same epoch and the ingest
    * path would pay one full-table rewrite inline (measured as a 7-9x
    * epoch stall); the budget caps each epoch's compaction work at a
    * fixed fraction while the backlog drains over the following epochs,
    * after which the drain schedule itself keeps bucket phases spread.
    * `stagger` additionally lowers each bucket's effective threshold by a
    * deterministic per-bucket offset in [0, stagger], de-synchronizing
    * the FIRST wave too.
    */
  def compactDeltas(
      spark: SparkSession,
      maxDeltasPerBucket: Int = 0,
      maxBuckets: Int = Int.MaxValue,
      stagger: Int = 0): Int = {
    val cur = current
    // stagger never halves a bucket's threshold (a small-threshold table
    // would otherwise degrade to compact-every-epoch for some buckets)
    val effStagger = math.min(stagger, maxDeltasPerBucket / 2)
    def thresholdFor(b: Int): Int =
      if (effStagger <= 0) maxDeltasPerBucket
      else maxDeltasPerBucket - ((b * 2654435761L) % (effStagger + 1)).toInt
    val targets = cur.deltas
      .filter { case (b, fs) => fs.size > thresholdFor(b) }
      .toSeq.sortBy { case (b, fs) => (-fs.size, b) }
      .take(math.max(0, maxBuckets))
      .map(_._1).toSet
    if (targets.isEmpty) return 0
    val sch = cur.schema
    // one single-task job per bucket: the bucket's merge needs no
    // exchange (MorRead.mergedInBucket), and the jobs run side by side.
    // A union of per-bucket merges would run as ONE task (the union keeps
    // its children's single partition), hence separate jobs. The pool's
    // threads are created here, so they inherit this thread's job
    // description and scheduler properties.
    // A shared delta file is read by the job of every target bucket that
    // lists it, each keeping only its own rows.
    def rewrite(stageDir: Path, b: Int): Unit =
      MorRead.mergedInBucket(spark, sch, bucketFiles(cur, cur.files, Some(Set(b))).read(spark, sch),
        bucketFiles(cur, cur.deltas, Some(Set(b))))
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite").options(BaseFileOptions)
        .parquet(s"$stageDir/bucket=$b")
    val staged = staging(spark, cur.numBuckets) { stageDir =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(targets.size, math.max(1, spark.sparkContext.defaultParallelism)))
      val failures =
        try targets.toSeq.sorted
          .map(b => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = rewrite(stageDir, b) }))
          // wait for EVERY job before cleaning up: a failed bucket must not
          // drop the stage dir under a sibling that is still writing
          .flatMap(f => scala.util.Try(f.get()).failed.toOption)
        finally pool.shutdown()
      failures.headOption.foreach { f =>
        throw (f match {
          case e: java.util.concurrent.ExecutionException if e.getCause != null => e.getCause
          case e => e
        })
      }
      stagedFilesByBucket(stageDir)
    }
    // raced-out buckets' staged merges are deleted by commitStaged
    commitStaged(staged) { parent =>
      // replace a bucket only if no concurrent commit changed it since we
      // read `cur` — otherwise we would drop newer base or delta files
      val safe = targets.filter { b =>
        parent.files.get(b) == cur.files.get(b) && parent.deltas.get(b) == cur.deltas.get(b)
      }
      parent.copy(
        files = (parent.files -- safe) ++ staged.files.filter(kv => safe(kv._1)),
        deltas = parent.deltas -- safe,
        metrics = Map("bucketsCompacted" -> safe.size.toLong))
    }.get.metrics("bucketsCompacted").toInt
  }

  /** CAS commit: build the child snapshot from the freshly-read current
    * one, publish as version+1 via atomic create-if-absent. Retries on
    * losing a race (another writer published first).
    *
    * The published v-file is the DIFF against the parent — O(this
    * commit's changes). Every [[IceLite.CheckpointEvery]] commits a full
    * checkpoint is also written (best-effort: a crash before it costs
    * nothing — readers fold from the previous checkpoint).
    */
  def commit(build: Snapshot => Snapshot, maxRetries: Int = 5): Snapshot = {
    var attempt = 0
    while (true) {
      val parentV = currentVersion
      val parent = if (parentV == 0L) null else snapshot(parentV)
      val base = Option(parent).getOrElse(
        throw new IllegalStateException(s"table $dir has no snapshots — create() first"))
      val next0 = build(base).copy(version = parentV + 1, parentVersion = parentV)
      // normalize away empty bucket entries so the writer's in-memory view
      // is identical to what a reader reconstructs from the diff (fold
      // drops a bucket on `set: []`)
      val next = next0.copy(
        files = next0.files.filter(_._2.nonEmpty),
        deltas = next0.deltas.filter(_._2.nonEmpty))
      val target = vFile(next.version)
      val tmp = snapDir.resolve(s".tmp-${UUID.randomUUID()}.json")
      Files.writeString(tmp, diffJson(next, base))
      try {
        // link(2) is an atomic put-if-absent: fails iff target exists.
        // (rename(2)/ATOMIC_MOVE silently replaces on POSIX — not a CAS.)
        Files.createLink(target, tmp)
        // the commit is DURABLE from here — everything below is
        // best-effort bookkeeping and must not throw: a caller seeing
        // commit() fail may clean up its staged files, and a throw after
        // the link would make it delete files the committed snapshot
        // references (readers fold from the previous checkpoint either
        // way, per the scaladoc)
        try {
          Files.deleteIfExists(tmp)
          val c = stateCache
          if (c == null || next.version > c.version) stateCache = next
          if (next.version % CheckpointEvery == 0 && !Files.exists(cFile(next.version)))
            writeAtomically(cFile(next.version), toJson(next))
        } catch {
          case scala.util.control.NonFatal(e) => System.err.println(
            s"[graft] WARN post-commit bookkeeping on $dir v${next.version} failed " +
              s"(commit is durable; checkpoint deferred to a later commit): $e")
        }
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(s"commit contention on $dir after $maxRetries retries")
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object IceLite {

  /** True iff `e`'s cause chain carries a missing-file signal — the
    * concurrent-expiry race marker ([[IceLiteTable.snapshot]]'s retry and
    * [[MetaTables.snapshots]]'s drop-from-listing both key on it; any
    * OTHER failure, e.g. a corrupt v-file, must stay loud). The signal
    * may arrive wrapped (UncheckedIOException around a FileNotFound from
    * a stream), hence the bounded cause-chain walk.
    */
  private[graft] def missingFile(e: Throwable): Boolean = {
    var c = e; var depth = 0
    while (c != null && depth < 8) {
      if (c.isInstanceOf[java.nio.file.NoSuchFileException] ||
        c.isInstanceOf[java.io.FileNotFoundException]) return true
      c = c.getCause; depth += 1
    }
    false
  }

  /** JVM-wide ref/expiry mutual exclusion, keyed by canonical table dir
    * (IceLiteTable instances are cheap and callers create several per
    * dir — an instance-level lock would not serialize them). Closes the
    * tag-vs-expiry TOCTOU in-process: [[IceLiteTable.expireSnapshots]]
    * reads the tag set once to compute its keep window, so a tag of an
    * OLDER version landing between that read and the deletes would pin
    * nothing and point at a GC'd chain. Maintenance runs on an
    * in-process thread (CdcStream cadence), so the JVM-wide lock covers
    * the real deployment; cross-PROCESS expiry remains best-effort
    * (tag() re-validates after publishing the ref, shrinking that
    * window to the expiry's own delete loop).
    */
  private[table] def refLock(dir: String): Object =
    refLocks.computeIfAbsent(
      Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)
  private val refLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Parquet `files` (absolute paths, as a snapshot names them) under
    * `sch`; an empty frame when there are none. The scan is built from
    * the known files, never from a listing: their statuses seed the file
    * index's cache, so more paths than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` start no
    * "Listing leaf files" job, as `spark.read.parquet(paths)` would. One
    * stat per file, driver-side; a directory among `files` is listed as
    * `spark.read` would list it. Every snapshot scan goes through here:
    * base and delta files of state reads and the change feed.
    */
  private[graft] def readFiles(spark: SparkSession, sch: StructType, files: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    if (files.isEmpty) return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
    val hconf = spark.sessionState.newHadoopConf()
    val statuses = files.map { f =>
      val p = new HPath(f)
      p.getFileSystem(hconf).getFileStatus(p)
    }
    val known = statuses.filterNot(_.isDirectory).map(s => s.getPath -> Array(s)).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: HPath): Option[Array[FileStatus]] = known.get(path)
      def putLeafFiles(path: HPath, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, statuses.map(_.getPath), Map.empty, Some(sch), cache)
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, index.partitionSchema, sch, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Physical bucket of a conversation — the table's hash-distribution
    * layout (reference analogue: `PARTITION BY HASH` DDL,
    * `.../dialect/PostgreSqlDatabaseDialect.java:208-232`).
    */
  def bucketOf(convId: org.apache.spark.sql.Column, numBuckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    pmod(xxhash64(convId), lit(numBuckets.toLong)).cast("int")
  }

  /** What a read of a bucket set scans from one of a snapshot's file
    * maps: the distinct files listed under the set (absolute paths),
    * grouped by the buckets whose rows the read keeps from them. A file
    * written for one bucket (`bucket=<b>/`) holds only that bucket's
    * rows and keeps them all (`None`). A one-task epoch's file holds rows
    * of several buckets, and compaction drops a bucket's listing of it
    * once the bucket's base holds those rows, so the read keeps only the
    * rows with `bucketOf(conv_id)` among the read buckets that still list
    * it — for a full read as much as for a subset.
    */
  final case class BucketFiles(scans: Seq[(Seq[String], Option[Set[Int]])]) {
    def paths: Seq[String] = scans.flatMap(_._1)

    /** One scan per distinct kept-bucket set, unioned; an empty frame
      * when there are no files. A shared file's kept buckets are read
      * from its stored `bucket` column, so the parquet reader skips the
      * pages of the others.
      */
    def read(spark: SparkSession, sch: StructType): DataFrame =
      if (scans.isEmpty) readFiles(spark, sch, Nil)
      else scans.map {
        case (fs, None) => readFiles(spark, sch, fs)
        case (fs, Some(k)) =>
          val bucket = org.apache.spark.sql.functions.col(BucketField.name)
          readFiles(spark, sch.add(BucketField), fs).filter(bucket.isin(k.toSeq.sorted: _*)).drop(bucket)
      }.reduce(_ union _)
  }

  /** The bucket column a one-task epoch's file stores ([[IceLiteTable.stageEpochFile]]). */
  private[table] val BucketField =
    org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType)

  /** Rows per parquet page of a one-task epoch's file: a read of one of
    * its buckets decodes that bucket's pages, about this many rows more
    * than the bucket holds, instead of the whole file.
    */
  val EpochPageRows: Int = 256

  /** One immutable snapshot of the table. `files` maps bucket id to
    * table-relative parquet paths (a one-task epoch's file is listed
    * under every bucket its rows hash to); `properties` is free-form commit
    * bookkeeping (exactly-once epochs, applied offset ranges);
    * `metrics` are per-commit counters (rows written/deleted, buckets
    * rewritten) — the engine's lineage/metrics surface.
    *
    * `deltas` (merge-on-read) maps bucket id to net-action delta files
    * (Iceberg's equality-delete/MOR analogue): each MOR commit appends
    * O(changes) delta files instead of rewriting bucket state; readers
    * fold base ∪ deltas (see [[MorRead]]); compaction folds them back
    * into plain base files. Every row in a delta file carries the commit
    * sequence number `seq` (== the snapshot version that added it);
    * `lastDeltaSeq` is the high-water mark, enforced monotonic at commit
    * (a racing MOR commit with a stale seq fails the check and is
    * re-staged under a fresh seq by CdcApply's bounded retry).
    */
  final case class Snapshot(
      version: Long,
      parentVersion: Long,
      schemaJson: String,
      numBuckets: Int,
      files: Map[Int, Seq[String]],
      properties: Map[String, String],
      metrics: Map[String, Long],
      deltas: Map[Int, Seq[String]] = Map.empty,
      lastDeltaSeq: Long = 0L) {

    /** The table schema this snapshot records. */
    def schema: StructType = org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType]

    /** Every file listing, base then delta: a file shared by several
      * buckets appears once per bucket listing it.
      */
    def allFiles: Iterable[String] = files.values.flatten ++ deltas.values.flatten

    /** The last batch id committed per stream id — the exactly-once
      * epoch markers, stored as `epoch:<streamId>` properties.
      */
    def epochs: Map[String, Long] =
      properties.collect { case (k, v) if k.startsWith(EpochPrefix) => k.stripPrefix(EpochPrefix) -> v.toLong }

    /** True when `epoch`'s batch is at or below its stream's committed
      * marker: a re-delivery, to skip.
      */
    def applied(epoch: Option[(String, Long)]): Boolean =
      epoch.exists { case (sid, bid) => epochs.get(sid).exists(_ >= bid) }
  }

  private val EpochPrefix = "epoch:"

  /** The snapshot property a commit of `epoch` (streamId, batchId) carries. */
  private[table] def epochProperty(epoch: Option[(String, Long)]): Map[String, String] =
    epoch.map { case (sid, bid) => s"$EpochPrefix$sid" -> bid.toString }.toMap

  /** What a writer staged and has not committed: its stage dir under
    * `data/`, the files in it per bucket (table-relative), and the bucket
    * count those buckets were computed for. `rows` is the files' footer
    * row count, read on first use.
    */
  final class Staged private[table] (
      val dir: Path, val files: Map[Int, Seq[String]], val numBuckets: Int, countRows: => Long) {
    lazy val rows: Long = countRows

    def paths: Set[String] = files.values.flatten.toSet

    /** `m` with each bucket's staged files appended to its list. */
    def appendTo(m: Map[Int, Seq[String]]): Map[Int, Seq[String]] =
      files.foldLeft(m) { case (acc, (b, fs)) => acc.updated(b, acc.getOrElse(b, Seq.empty) ++ fs) }

    /** The staged files `s` lists under the bucket they were staged for. */
    private[table] def listedIn(s: Snapshot): Set[String] =
      files.iterator.flatMap { case (b, fs) =>
        val listed = s.files.getOrElse(b, Nil) ++ s.deltas.getOrElse(b, Nil)
        fs.filter(listed.contains)
      }.toSet
  }

  /** A re-delivered epoch, found at commit time ([[IceLiteTable.commitStaged]]). */
  private[table] object AlreadyApplied extends Exception("epoch already applied")

  /** Writer options of a base file: zstd, with a conv_id bloom filter. */
  private[graft] val BaseFileOptions: Map[String, String] =
    Map("compression" -> "zstd", "parquet.bloom.filter.enabled#conv_id" -> "true")

  /** Sum of row counts from parquet footers (driver-side metadata reads,
    * fanned out on a thread pool — one file per bucket per epoch adds up,
    * and each footer open is latency-bound, not CPU-bound).
    */
  private[graft] def footerRowCount(spark: SparkSession, paths: Iterable[String]): Long = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val conf = spark.sessionState.newHadoopConf()
    implicit val ec: ExecutionContext = ExecutionContext.global
    val counts = paths.toSeq.map { p =>
      Future {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum
        finally r.close()
      }
    }
    Await.result(Future.sequence(counts), Duration.Inf).sum
  }

  /** Cadence of full-state checkpoint files. Between checkpoints each
    * commit stores only its diff, so a cold open folds at most this many
    * diffs; a warm (memoized) reader folds exactly one per commit.
    */
  val CheckpointEvery: Int = 32

  /** Test seam: runs once, at the next [[IceLiteTable.commitStaged]] of
    * any writer, between its staging and its CAS — lets a spec
    * deterministically land a concurrent commit in the window each
    * writer's race guard exists for. Consumed on use.
    */
  private[graft] val testOnStaged =
    new java.util.concurrent.atomic.AtomicReference[() => Unit]()

  private val mapper = new ObjectMapper()

  /** Per-bucket file-list change: `set` replaces the bucket's list (empty
    * = remove the bucket), `add` appends. Exactly one is used per entry.
    */
  private[table] final case class BucketOp(set: Option[Seq[String]], add: Seq[String])

  /** The on-disk v-file payload: everything of a [[Snapshot]] except that
    * the (unboundedly growing) per-bucket file lists are stored as diffs
    * against the parent version.
    */
  private[table] final case class SnapshotDiff(
      version: Long,
      parentVersion: Long,
      schemaJson: String,
      numBuckets: Int,
      filesOps: Map[Int, BucketOp],
      deltasOps: Map[Int, BucketOp],
      properties: Map[String, String],
      metrics: Map[String, Long],
      lastDeltaSeq: Long)

  private def mapOps(parent: Map[Int, Seq[String]], child: Map[Int, Seq[String]]): Map[Int, BucketOp] =
    (parent.keySet ++ child.keySet).iterator.flatMap { b =>
      (parent.get(b), child.get(b)) match {
        case (p, c) if p == c => None
        case (Some(p), Some(c)) if c.size > p.size && c.startsWith(p) =>
          Some(b -> BucketOp(None, c.drop(p.size)))
        case (_, Some(c)) => Some(b -> BucketOp(Some(c), Nil))
        case (_, None)    => Some(b -> BucketOp(Some(Nil), Nil))
      }
    }.toMap

  private def applyOps(parent: Map[Int, Seq[String]], ops: Map[Int, BucketOp]): Map[Int, Seq[String]] =
    ops.foldLeft(parent) { case (m, (b, op)) =>
      op.set match {
        case Some(s) if s.isEmpty => m - b
        case Some(s)              => m.updated(b, s)
        case None                 => m.updated(b, m.getOrElse(b, Seq.empty) ++ op.add)
      }
    }

  private[table] def fold(parent: Snapshot, d: SnapshotDiff): Snapshot = {
    require(d.parentVersion == parent.version,
      s"diff v${d.version} folds onto v${d.parentVersion}, not v${parent.version}")
    Snapshot(
      version = d.version,
      parentVersion = d.parentVersion,
      schemaJson = d.schemaJson,
      numBuckets = d.numBuckets,
      files = applyOps(parent.files, d.filesOps),
      properties = d.properties,
      metrics = d.metrics,
      deltas = applyOps(parent.deltas, d.deltasOps),
      lastDeltaSeq = d.lastDeltaSeq)
  }

  private[table] def diffJson(child: Snapshot, parent: Snapshot): String = {
    val root = mapper.createObjectNode()
    root.put("version", child.version)
    root.put("parentVersion", child.parentVersion)
    root.put("schemaJson", child.schemaJson)
    root.put("numBuckets", child.numBuckets)
    root.put("lastDeltaSeq", child.lastDeltaSeq)
    def putOps(name: String, ops: Map[Int, BucketOp]): Unit = {
      val node = root.putObject(name)
      ops.toSeq.sortBy(_._1).foreach { case (b, op) =>
        val o = node.putObject(b.toString)
        op.set match {
          case Some(s) => val arr = o.putArray("set"); s.foreach(arr.add)
          case None    => val arr = o.putArray("add"); op.add.foreach(arr.add)
        }
      }
    }
    putOps("filesOps", mapOps(parent.files, child.files))
    putOps("deltasOps", mapOps(parent.deltas, child.deltas))
    val props = root.putObject("properties")
    child.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    val mets = root.putObject("metrics")
    child.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => mets.put(k, v) }
    root.toPrettyString
  }

  private[table] def readDiff(path: Path): SnapshotDiff = {
    val root = mapper.readTree(Files.readString(path))
    def ops(name: String): Map[Int, BucketOp] = {
      val n = root.get(name).asInstanceOf[ObjectNode]
      n.fields().asScala.map { e =>
        val set = Option(e.getValue.get("set")).map(_.elements().asScala.map(_.asText()).toSeq)
        val add = Option(e.getValue.get("add")).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        e.getKey.toInt -> BucketOp(set, add)
      }.toMap
    }
    def strMap(name: String): Map[String, String] = {
      val n = root.get(name).asInstanceOf[ObjectNode]
      n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
    SnapshotDiff(
      version = root.get("version").asLong(),
      parentVersion = root.get("parentVersion").asLong(),
      schemaJson = root.get("schemaJson").asText(),
      numBuckets = root.get("numBuckets").asInt(),
      filesOps = ops("filesOps"),
      deltasOps = ops("deltasOps"),
      properties = strMap("properties"),
      metrics = {
        val n = root.get("metrics").asInstanceOf[ObjectNode]
        n.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      },
      lastDeltaSeq = root.get("lastDeltaSeq").asLong())
  }

  private[table] def readCheckpoint(path: Path): Snapshot = readSnapshot(path)

  /** The fold seed for a chain with no checkpoint: v1's diff is written
    * against this empty version-0 parent.
    */
  private[table] val emptySnapshot: Snapshot =
    Snapshot(0L, 0L, "", 0, Map.empty, Map.empty, Map.empty)

  private[table] def writeAtomically(target: Path, content: String): Unit = {
    val tmp = target.getParent.resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.writeString(tmp, content)
    try Files.createLink(target, tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally Files.deleteIfExists(tmp)
  }

  /** Full-state (checkpoint) serialization. */
  def toJson(s: Snapshot): String = {
    val root = mapper.createObjectNode()
    root.put("version", s.version)
    root.put("parentVersion", s.parentVersion)
    root.put("schemaJson", s.schemaJson)
    root.put("numBuckets", s.numBuckets)
    val files = root.putObject("files")
    s.files.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      val arr = files.putArray(b.toString)
      fs.foreach(arr.add)
    }
    val deltas = root.putObject("deltas")
    s.deltas.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      val arr = deltas.putArray(b.toString)
      fs.foreach(arr.add)
    }
    root.put("lastDeltaSeq", s.lastDeltaSeq)
    val props = root.putObject("properties")
    s.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    val mets = root.putObject("metrics")
    s.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => mets.put(k, v) }
    root.toPrettyString
  }

  def readSnapshot(path: Path): Snapshot = {
    val root = mapper.readTree(Files.readString(path))
    def objFields(name: String): Iterator[(String, com.fasterxml.jackson.databind.JsonNode)] = {
      val n = root.get(name).asInstanceOf[ObjectNode]
      n.fields().asScala.map(e => e.getKey -> e.getValue)
    }
    Snapshot(
      version = root.get("version").asLong(),
      parentVersion = root.get("parentVersion").asLong(),
      schemaJson = root.get("schemaJson").asText(),
      numBuckets = root.get("numBuckets").asInt(),
      files = objFields("files").map { case (k, v) =>
        k.toInt -> v.elements().asScala.map(_.asText()).toSeq
      }.toMap,
      properties = objFields("properties").map { case (k, v) => k -> v.asText() }.toMap,
      metrics = objFields("metrics").map { case (k, v) => k -> v.asLong() }.toMap,
      deltas = objFields("deltas").map { case (k, v) =>
        k.toInt -> v.elements().asScala.map(_.asText()).toSeq
      }.toMap,
      lastDeltaSeq = root.get("lastDeltaSeq").asLong())
  }

  /** Create an empty table (snapshot v1, no files) with its base
    * checkpoint c1 (the fold anchor for every later diff).
    */
  def create(dir: String, schema: StructType, numBuckets: Int): IceLiteTable = {
    val snapDir = Paths.get(dir, "snap")
    Files.createDirectories(snapDir)
    Files.createDirectories(Paths.get(dir, "data"))
    val s = Snapshot(1L, 0L, schema.json, numBuckets, Map.empty, Map.empty, Map.empty)
    val empty = Snapshot(0L, 0L, s.schemaJson, numBuckets, Map.empty, Map.empty, Map.empty)
    val target = snapDir.resolve(f"v${1L}%010d.json")
    val tmp = snapDir.resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.writeString(tmp, diffJson(s, empty))
    Files.createLink(target, tmp)
    Files.deleteIfExists(tmp)
    writeAtomically(snapDir.resolve(f"c${1L}%010d.json"), toJson(s))
    new IceLiteTable(dir)
  }

  def load(dir: String): IceLiteTable = {
    val t = new IceLiteTable(dir)
    require(t.currentVersion > 0, s"no IceLite table at $dir")
    t
  }

  def exists(dir: String): Boolean =
    Files.isDirectory(Paths.get(dir, "snap")) && new IceLiteTable(dir).currentVersion > 0
}
