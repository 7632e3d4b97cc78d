package graft.meta

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.schema.GraftSchema

/** Per-column file statistics (the `withMetrics(appender.metrics())` analog,
  * reference `IcebergTableGenerator.java:420,445`): inclusive min/max of the
  * column's non-null values rendered as canonical strings (numerics compare
  * via BigDecimal at prune time; date/timestamp/string/boolean renderings
  * compare lexically), plus the null count. `min`/`max` None with the entry
  * present means the column is ALL NULL in the file — rows there can never
  * satisfy a range predicate, so the file is prunable.
  */
final case class ColMetrics(min: Option[String], max: Option[String], nullCount: Long,
                            bloom: Option[String] = None)

/** Manifest-level Bloom filter over one column of one file — the
  * file-skipping layer BEYOND min/max (Iceberg exposes the same idea as
  * Parquet bloom filters via `write.parquet.bloom-filter-enabled`; keeping
  * the bitset on the MANIFEST entry lets the planner test membership with
  * zero file I/O). 1024 bits / 3 probes: ~1% false positives at 100
  * distinct values per file, 128 bytes per (file, column) in the log. An
  * equality read on a high-cardinality column whose values are scattered
  * across the keyspace — exactly where min/max envelopes degenerate to
  * "keep everything" — prunes to the files that actually contain the value
  * (false positives only: pruning stays sound).
  *
  * Hashing is ONE `xxhash64` of the value's canonical string
  * ([[hashValue]] in the write tasks, [[hashString]] at plan time — one
  * implementation), fanned to [[NumHash]] probe positions by
  * Kirsch–Mitzenmacher double hashing ([[positions]], shared too), so
  * writer and reader can never disagree. */
object BloomFilter {
  val NumBits = 1024
  val NumLanes: Int = NumBits / 64
  val NumHash = 3
  /** Spark's `xxhash64(...)` default seed — parity with the expression. */
  val Seed = 42L

  /** xxhash64 of a value's canonical string — Spark's
    * `xxhash64(cast(col as string))`. */
  def hashString(s: String): Long =
    hashValue(org.apache.spark.unsafe.types.UTF8String.fromString(s))

  /** [[hashString]] of a non-null Catalyst value of a [[supported]] type:
    * strings hash their UTF-8 bytes as they are, integers their decimal
    * rendering (what the cast to string produces). The write side's one
    * hash per row. */
  def hashValue(v: Any): Long = v match {
    case s: org.apache.spark.unsafe.types.UTF8String =>
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        s, org.apache.spark.sql.types.StringType, Seed)
    case n => hashString(n.toString)
  }

  /** The probe bit positions for a hash (Kirsch–Mitzenmacher: `h1 + j*h2`
    * with overflow wrap — Java arithmetic on both sides). */
  def positions(h: Long): Seq[Int] = {
    val h2 = (h >>> 33) | 1L
    (0 until NumHash).map(j => java.lang.Math.floorMod(h + j * h2, NumBits.toLong).toInt)
  }

  def render(lanes: Array[Long]): String = {
    require(lanes.length == NumLanes, s"want $NumLanes lanes, got ${lanes.length}")
    val bb = java.nio.ByteBuffer.allocate(NumLanes * 8)
    lanes.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** May the file contain `value`? (false ⇒ definitely absent — prunable) */
  def mightContain(b64: String, value: String): Boolean = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(b64))
    val lanes = Array.fill(NumLanes)(bb.getLong)
    positions(hashString(value)).forall { p =>
      (lanes(p / 64) & (1L << (p % 64))) != 0L
    }
  }

  /** Only types whose plan-time canonical string equals Spark's
    * cast-to-string rendering carry blooms (equality probes hash the
    * caller's string: a rendering mismatch would be unsound). */
  def supported(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.ByteType => true
    case _ => false
  }
}

/** A data file registered in a snapshot (analog of an Iceberg manifest
  * entry, reference `IcebergTableGenerator.java:417-422`). `recordCount` is
  * the DECLARED count — `appendEmptyFile` deliberately lies (`:168`,
  * `withRecordCount(1)` over an empty file); readers must trust file
  * content, which the Spark read path does for free.
  *
  * `metrics` maps FIELD ID → [[ColMetrics]] (ids, not names: metrics stay
  * valid across schema evolution). Computed from actual file content at
  * write time — never from declared counts — so even the lying empty file
  * carries honest (absent) stats. This is what lets a reader skip whole
  * files on arbitrary range/equality predicates at metadata scale instead
  * of opening a million Parquet footers ([[graft.read.MorReader.readRange]]).
  *
  * `firstRowId` is Iceberg v3 ROW LINEAGE: the file's rows carry stable
  * row ids `firstRowId + position`, assigned once at commit from the
  * table's monotone counter ([[SnapshotLog.commit]]) and NEVER reassigned.
  * -1 = unassigned (legacy entries, or unknown record count). Rewritten
  * (compacted) files set `lineageInFile` instead: they carry the original
  * ids MATERIALIZED as physical `_graft_row_id`/`_graft_last_seq` columns,
  * which is how identity survives compaction.
  */
final case class DataFileEntry(
    path: String,
    partition: Map[String, String],
    specId: Int,
    schemaV: Int,
    seq: Long,
    recordCount: Long,
    metrics: Map[Int, ColMetrics] = Map.empty,
    firstRowId: Long = -1L,
    lineageInFile: Boolean = false)

/** A delete file (positional or equality) registered via a row-delta
  * (reference `RowDelta`, `IcebergTableGenerator.java:202,281-284,360-363`).
  * Equality deletes carry the equality key column NAMES AT DELETE TIME
  * (the in-file column names) plus the stable FIELD IDS (reference resolves
  * keys to ids via `equalityIds`, `Main.java:590-594`) — ids keep the
  * delete applicable even if the key column is later dropped from the live
  * schema (S11). Equality deletes apply to data files with STRICTLY SMALLER
  * sequence number (Iceberg v2 semantics, observable in the golden counts
  * `Main.java:328-354`); positional deletes apply to seq <= delete seq.
  *
  * `keyColsWritten` records the physical canonical key column names
  * (`_dk<fieldId>`) the writer put IN the file — the reader trusts it and
  * plans a single multi-path scan with zero Parquet footer probes. Empty on
  * entries from logs predating the field (or pos deletes); only those
  * legacy entries pay a driver-side footer check at plan time.
  *
  * `metrics` is the delete-file analog of [[DataFileEntry.metrics]]
  * (Iceberg stores the same bounds on delete manifest entries): for eq
  * deletes, min/max/null-count of each equality KEY (by field id); for pos
  * deletes, min/max of the referenced `file_path` column under the
  * reserved [[DeleteFileEntry.PathFieldId]]. It lets the scan planner skip
  * delete files that cannot intersect the pruned data files — on an
  * S9-shaped table (100 delete files) a pruned scan then applies one or
  * two delete files instead of all 100 ([[graft.read.MorReader]]). Empty
  * on entries from logs predating the field → never pruned (sound).
  */
final case class DeleteFileEntry(
    path: String,
    partition: Map[String, String],
    kind: String, // "pos" | "eq"
    equalityCols: Seq[String],
    equalityIds: Seq[Int],
    seq: Long,
    keyColsWritten: Seq[String] = Nil,
    metrics: Map[Int, ColMetrics] = Map.empty)

object DeleteFileEntry {
  /** Reserved metrics key for a pos-delete file's referenced-path bounds
    * (Iceberg's `DELETE_FILE_PATH` field id, `Integer.MAX_VALUE - 101` —
    * can never collide with real schema field ids, which are small). */
  val PathFieldId: Int = Int.MaxValue - 101
}

/** One committed transaction = one snapshot (reference
  * `IcebergTableGenerator.java:367-379`: N buffered ops, one commit).
  * `removedDataFiles`/`removedDeleteFiles` record compaction rewrites:
  * the paths leave the live file set but stay on disk, so time travel to
  * pre-compaction snapshots keeps working.
  *
  * `timestampMs` is the commit wall-clock stamp (Iceberg `timestamp-ms` —
  * every snapshot the reference commits through `Transaction
  * .commitTransaction` carries one); 0 on entries from logs predating the
  * field. `operation` is the EXPLICIT commit kind, Iceberg-style:
  * `append` (data files only), `delete` (delete files only), `overwrite`
  * (both — upsert), `replace` (compaction/expiry rebase: added files
  * re-express rows that already existed). Incremental scans branch on it
  * rather than inferring from removed-file lists, so a mixed snapshot can
  * never be silently misclassified ([[graft.read.MorReader.appendsBetween]]).
  */
final case class Snapshot(
    id: Long,
    seq: Long,
    schemaV: Int,
    specId: Int,
    dataFiles: Seq[DataFileEntry],
    deleteFiles: Seq[DeleteFileEntry],
    removedDataFiles: Seq[String] = Nil,
    removedDeleteFiles: Seq[String] = Nil,
    timestampMs: Long = 0L,
    operation: String = "append",
    branch: String = "main",
    nextRowId: Long = -1L,
    summary: Map[String, String] = Map.empty)

/** Aggregate stats of ONE sharded data manifest group, inlined in the snap
  * file next to the group name (the Iceberg manifest-LIST entry analog:
  * added-rows / sequence bounds / per-column envelopes without opening the
  * manifest). What lets metadata-only COUNT/MIN/MAX answer at 10^7-file
  * scale from the snap file alone — the group files stay unread.
  *
  * `rows` is -1 when any file in the group has an unknown declared count.
  * `metrics` carries a field id ONLY when every file in the group has
  * metrics for it; min/max are the folded envelope, nullCount the sum. */
final case class ManifestGroupStats(
    files: Int,
    rows: Long,
    minSeq: Long,
    maxSeq: Long,
    metrics: Map[Int, ColMetrics] = Map.empty)

/** Loaded table state as of a snapshot.
  *
  * Snapshot ids are allocated from ONE global counter across all branches
  * (the optimistic-concurrency arbiter stays a single atomic link), so a
  * full load carries every branch's snapshots interleaved by id. Readers
  * resolve a LINEAGE before planning: [[mainOnly]] for the main table,
  * [[onBranch]] for a named branch (main history up to the fork point plus
  * the branch's own commits — the Iceberg branch-ref visibility rule).
  * Maintenance (expiry sweeps, orphan GC, rollback) deliberately keeps the
  * unfiltered view: a branch's files are referenced files.
  */
final case class TableState(
    schemas: Map[Int, GraftSchema],
    specs: Map[Int, Seq[String]],
    snapshots: Seq[Snapshot]) {

  /** The main lineage: branch commits are invisible until fast-forwarded. */
  def mainOnly: TableState =
    copy(snapshots = snapshots.filter(_.branch == "main"))

  /** A branch's lineage: main up to the fork snapshot + branch commits. */
  def onBranch(name: String, forkId: Long): TableState =
    copy(snapshots = snapshots.filter(s =>
      (s.branch == "main" && s.id <= forkId) || s.branch == name))

  def currentSchemaV: Int = snapshots.lastOption.map(_.schemaV).getOrElse(0)
  def currentSpecId: Int = snapshots.lastOption.map(_.specId).getOrElse(0)
  def schema: GraftSchema = schemas(currentSchemaV)
  def partitionCols: Seq[String] = specs(currentSpecId)
  // distinctBy(path): a reader racing snapshot expiry can transiently see
  // both the rebased baseline and a not-yet-deleted pre-horizon snapshot
  // listing the same file — identical entries, deduped here so the scan
  // never double-reads a path
  def dataFiles: Seq[DataFileEntry] = {
    val removed = snapshots.flatMap(_.removedDataFiles).toSet
    snapshots.flatMap(_.dataFiles).filterNot(f => removed(f.path)).distinctBy(_.path)
  }
  def deleteFiles: Seq[DeleteFileEntry] = {
    val removed = snapshots.flatMap(_.removedDeleteFiles).toSet
    snapshots.flatMap(_.deleteFiles).filterNot(f => removed(f.path)).distinctBy(_.path)
  }
  def asOf(snapshotId: Long): TableState =
    copy(snapshots = snapshots.filter(_.id <= snapshotId))
  /** State as of a wall-clock time: every snapshot committed at or before
    * `tsMs` (Iceberg `FOR TIMESTAMP AS OF`). Errors if the table has no
    * snapshot that old — same contract as Iceberg's timestamp resolution. */
  def asOfTime(tsMs: Long): TableState = {
    val upTo = snapshots.filter(_.timestampMs <= tsMs)
    require(upTo.nonEmpty,
      s"no snapshot committed at or before $tsMs (oldest: " +
        s"${snapshots.headOption.map(_.timestampMs).getOrElse("none")})")
    copy(snapshots = upTo)
  }
}

/** Append-only snapshot log under `<table>/metadata/`.
  *
  * Layout: one `metadata/snap-<id>.json` PER SNAPSHOT, plus
  * `metadata/schema-<v>.json`, `metadata/spec-<id>.json`, and optional
  * `metadata/refs.json` (named refs / tags). A legacy single-file
  * `metadata/log.jsonl` (one snapshot per line) is still read — per-file
  * snapshots are the round-4 commit-protocol upgrade.
  *
  * Commit atomicity mirrors HadoopCatalog's version-file protocol
  * (reference delegates to Iceberg's `Transaction.commitTransaction`,
  * `IcebergTableGenerator.java:375-379`): the snapshot content is written
  * to a temp file and PUBLISHED by hard-linking it to its final
  * `snap-<id>.json` name — link creation is atomic and FAILS if the name
  * exists, so of two writers racing the same version exactly one wins and
  * the loser gets [[CommitConflictException]]. A plain rename would
  * silently overwrite on POSIX (lost update); the link is what turns the
  * race into a detected conflict. No lock, no check-then-act window.
  */
final class SnapshotLog(tableDir: Path) {
  private val metaDir = tableDir.resolve("metadata")
  private val logFile = metaDir.resolve("log.jsonl")
  private val refsFile = metaDir.resolve("refs.json")
  private val mapper = new ObjectMapper()

  private def snapFile(id: Long): Path = metaDir.resolve(s"snap-$id.json")

  /** Committed snapshot ids, from the `snap-*.json` listing alone — no
    * JSON parse (the legacy `log.jsonl`, if present, contributes its last
    * line only, parsed once). */
  private def committedIds(): Seq[Long] = {
    val fromFiles =
      if (!Files.exists(metaDir)) Seq.empty
      else {
        val s = Files.list(metaDir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
          .map(_.stripPrefix("snap-").stripSuffix(".json").toLong).toSeq
        finally s.close()
      }
    val legacyLast =
      if (!Files.exists(logFile)) Seq.empty
      else Files.readAllLines(logFile).asScala.filter(_.nonEmpty).lastOption
        .map(l => mapper.readTree(l).get("id").asLong).toSeq
    (fromFiles ++ legacyLast).sorted
  }

  def init(): Unit = Files.createDirectories(metaDir)

  def writeSchema(v: Int, schema: GraftSchema): Unit = {
    init()
    Files.writeString(metaDir.resolve(s"schema-$v.json"), schema.toJson)
  }

  def writeSpec(id: Int, partitionCols: Seq[String]): Unit = {
    init()
    val root = mapper.createObjectNode()
    val arr = root.putArray("partitionCols")
    partitionCols.foreach(arr.add)
    Files.writeString(metaDir.resolve(s"spec-$id.json"), mapper.writeValueAsString(root))
  }

  /** Persist the table-property map (Iceberg table properties — layout
    * knobs like `parquet.block.size` plus arbitrary user keys). One flat
    * file, replaced whole on every SET/UNSET: property changes are
    * metadata-version edits, not snapshots, matching Iceberg. */
  def writeProperties(props: Map[String, String]): Unit = {
    init()
    val root = mapper.createObjectNode()
    props.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v) }
    Files.writeString(metaDir.resolve("properties.json"),
      mapper.writeValueAsString(root))
  }

  def loadProperties(): Map[String, String] = {
    val p = metaDir.resolve("properties.json")
    if (!Files.exists(p)) Map.empty
    else {
      val n = mapper.readTree(Files.readString(p))
      n.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }
  }

  def load(): TableState = {
    val schemas = listVersioned("schema-").map { case (v, p) =>
      v -> GraftSchema.fromJson(Files.readString(p))
    }.toMap
    val specs = listVersioned("spec-").map { case (v, p) =>
      val node = mapper.readTree(Files.readString(p))
      v -> node.get("partitionCols").elements().asScala.map(_.asText).toSeq
    }.toMap
    val legacy =
      if (!Files.exists(logFile)) Seq.empty
      else Files.readAllLines(logFile).asScala.filter(_.nonEmpty)
        .map(l => parseSnapshot(mapper.readTree(l))).toSeq
    val perFile = listSnapFiles()
      .map(p => parseSnapshot(mapper.readTree(Files.readString(p))))
    // legacy lines and per-file snapshots may transiently overlap while a
    // rewrite migrates formats — per-file wins, then order by id
    val perFileIds = perFile.map(_.id).toSet
    val snapshots = (legacy.filterNot(s => perFileIds(s.id)) ++ perFile).sortBy(_.id)
    TableState(schemas, specs, snapshots)
  }

  /** Outline load: like [[load]], but sharded DATA manifest groups are
    * NOT materialized — their group-file names ride on the outline and
    * [[graft.read.MorReader]] plans them inside Spark tasks. Delete
    * manifests (the metadata-scale side) still parse eagerly. The driver
    * footprint of a 10^7-file snapshot becomes its ~2.4k group names. */
  def loadOutline(): OutlineState = {
    val schemas = listVersioned("schema-").map { case (v, p) =>
      v -> GraftSchema.fromJson(Files.readString(p))
    }.toMap
    val specs = listVersioned("spec-").map { case (v, p) =>
      val node = mapper.readTree(Files.readString(p))
      v -> node.get("partitionCols").elements().asScala.map(_.asText).toSeq
    }.toMap
    val legacy =
      if (!Files.exists(logFile)) Seq.empty
      else Files.readAllLines(logFile).asScala.filter(_.nonEmpty)
        .map(l => SnapshotOutline(parseSnapshot(mapper.readTree(l)), Nil)).toSeq
    val perFile = listSnapFiles()
      .map(p => parseSnapshotOutline(mapper.readTree(Files.readString(p))))
    val perFileIds = perFile.map(_.snapshot.id).toSet
    val outlines =
      (legacy.filterNot(o => perFileIds(o.snapshot.id)) ++ perFile)
        .sortBy(_.snapshot.id)
    OutlineState(schemas, specs, outlines, metaDir.toString)
  }

  /** [[parseSnapshot]] minus data-manifest materialization. */
  private def parseSnapshotOutline(n: JsonNode): SnapshotOutline = {
    // branch on FIELD PRESENCE: a sharded render always writes the
    // manifests array (possibly empty — zero groups = empty list) and
    // omits the inline array entirely
    val dataMansOpt = Option(n.get("dataManifests"))
      .map(_.elements().asScala.map(_.asText).toSeq)
    val dataMans = dataMansOpt.getOrElse(Nil)
    val dfs = dataMansOpt match {
      case Some(_) => Nil
      case None => n.get("dataFiles").asInstanceOf[ArrayNode].elements().asScala
        .map(parseDataEntry).toSeq
    }
    val dels = Option(n.get("deleteManifests")) match {
      case Some(man) =>
        readManifestGroups(man.elements().asScala.map(_.asText).toSeq,
          parseDeleteEntry)
      case None =>
        n.get("deleteFiles").asInstanceOf[ArrayNode].elements().asScala
          .map(parseDeleteEntry).toSeq
    }
    def strArr(field: String): Seq[String] = Option(n.get(field))
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
    val removedData = strArr("removedDataFiles")
    val removedDeletes = strArr("removedDeleteFiles")
    val op = Option(n.get("operation")).map(_.asText).getOrElse {
      if (removedData.nonEmpty || removedDeletes.nonEmpty) "replace"
      else if (dels.nonEmpty && (dfs.nonEmpty || dataMans.nonEmpty)) "overwrite"
      else if (dels.nonEmpty) "delete"
      else "append"
    }
    SnapshotOutline(
      Snapshot(n.get("id").asLong, n.get("seq").asLong, n.get("schemaV").asInt,
        n.get("specId").asInt, dfs, dels, removedData, removedDeletes,
        Option(n.get("timestampMs")).map(_.asLong).getOrElse(0L), op,
        Option(n.get("branch")).map(_.asText).getOrElse("main"),
        Option(n.get("nextRowId")).map(_.asLong).getOrElse(-1L),
        SnapshotLog.summaryOfNode(n)),
      dataMans,
      Option(n.get("dataManifestStats"))
        .map(_.elements().asScala.map(parseGroupStats).toSeq).getOrElse(Nil))
  }

  /** The `nextRowId` stamp of snapshot `id` — one-file parse for
    * commit-time row-id assignment. When the stamp is absent (a last
    * snapshot written by a pre-field binary in a mixed-version history)
    * the fallback folds over ALL retained snapshots' data files — the
    * last snapshot alone is not enough: a delete-only snapshot carries no
    * data files, and a single-snapshot fallback would reset the counter
    * to 0 and reassign row ids already used by earlier files (duplicate
    * row identities). The full load is paid only on that legacy path;
    * stamped logs stay a one-file parse. */
  private def nextRowIdOf(id: Long): Long = {
    val p = snapFile(id)
    val node: Option[JsonNode] =
      if (Files.exists(p)) Some(mapper.readTree(Files.readString(p)))
      else if (Files.exists(logFile))
        Files.readAllLines(logFile).asScala.filter(_.nonEmpty)
          .map(mapper.readTree(_): JsonNode)
          .find(_.get("id").asLong == id)
      else None
    node.flatMap(n => Option(n.get("nextRowId")).map(_.asLong))
      .getOrElse {
        (0L +: load().snapshots.flatMap(_.dataFiles).collect {
          case f if f.firstRowId >= 0 && f.recordCount >= 0 =>
            f.firstRowId + f.recordCount
        }).max
      }
  }

  def lastSnapshotId: Long = committedIds().lastOption.getOrElse(0L)
  def lastSeq: Long = load().snapshots.lastOption.map(_.seq).getOrElse(0L)

  /** Publish one snapshot with OPTIMISTIC-CONCURRENCY conflict detection:
    * the incoming id must be exactly last-committed + 1 (fast pre-check
    * from the file listing), and the final arbiter is the atomic
    * hard-link creation of `snap-<id>.json` — it throws for every writer
    * but the first, so two writers racing the same version can never both
    * "succeed" (no lost update, no check-then-act window). A stale
    * [[graft.table.GraftTableGenerator]] aborts with
    * [[CommitConflictException]] and can `refresh()` + re-stage.
    */
  def commit(s: Snapshot): Unit = {
    init()
    val lastId = committedIds().lastOption.getOrElse(0L)
    if (s.id != lastId + 1)
      throw new CommitConflictException(
        s"stale commit: staged snapshot ${s.id} but table is at $lastId " +
          s"(expected ${lastId + 1}) — another writer committed first; " +
          "reload the table state and re-stage")
    // ---- row-lineage assignment (Iceberg v3 first-row-id): data files
    // with a known record count get firstRowId from the table's monotone
    // counter, read from the LAST COMMITTED snapshot (global across
    // branches — snapshot ids are one counter, so the last id holds the
    // running max). Assignment happens HERE, under the same CAS that
    // arbitrates the commit: a writer that loses the race re-stages and
    // re-assigns from the winner's counter, so ids never collide. The
    // DECLARED count advances the counter (Iceberg trusts record_count —
    // S2's lying file wastes one id, harmless). Files adopted with ids
    // already assigned (fast-forward) only raise the stamp.
    val base = math.max(0L,
      if (lastId == 0) 0L else nextRowIdOf(lastId))
    var ctr = base
    val assigned = s.dataFiles.map { f =>
      // a "replace" snapshot's files re-express EXISTING rows (compaction):
      // they either carry materialized lineage or — when a source file was
      // legacy — honestly none; minting fresh ids here would give old rows
      // new identities and corrupt the changelog's row-id diff
      if (s.operation == "replace" ||
          f.firstRowId >= 0 || f.lineageInFile || f.recordCount < 0) f
      else { val a = f.copy(firstRowId = ctr); ctr += f.recordCount; a }
    }
    val stampedCtr = (ctr +: assigned.collect {
      case f if f.firstRowId >= 0 && f.recordCount >= 0 =>
        f.firstRowId + f.recordCount
    }).max
    val stamped = s.copy(dataFiles = assigned, nextRowId = stampedCtr)
    val tmp = Files.createTempFile(metaDir, ".snap", ".tmp")
    try {
      Files.writeString(tmp, renderSnapshot(stamped))
      try Files.createLink(snapFile(s.id), tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"stale commit: snapshot ${s.id} was committed by another writer " +
            "during this commit; reload the table state and re-stage")
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** Replace the whole history (snapshot expiry). A legacy `log.jsonl` is
    * first atomically REWRITTEN to the kept set — deleting it last would
    * leave a crash window where already-deleted stale snapshot files
    * resurrect from the old log on the next load (per-file-wins dedup only
    * covers overlapping ids). Then kept snapshots are (re)written — each
    * file-atomic — then stale snapshot files and the log are removed; a
    * reader racing the rewrite sees a superset of the kept history at
    * worst, and a crash at ANY point leaves either the old history intact
    * or the kept history (possibly stored twice), never a mix. */
  def rewrite(snapshots: Seq[Snapshot]): Unit = {
    init()
    val keep = snapshots.map(_.id).toSet
    if (Files.exists(logFile)) {
      val tmp = Files.createTempFile(metaDir, ".log", ".tmp")
      Files.writeString(tmp,
        snapshots.map(renderSnapshot(_, shard = false)).mkString("", "\n", "\n"))
      Files.move(tmp, logFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    snapshots.foreach { s =>
      val tmp = Files.createTempFile(metaDir, ".snap", ".tmp")
      Files.writeString(tmp, renderSnapshot(s))
      Files.move(tmp, snapFile(s.id), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    listSnapFiles()
      .filterNot(p => keep(p.getFileName.toString
        .stripPrefix("snap-").stripSuffix(".json").toLong))
      .foreach(Files.deleteIfExists(_))
    Files.deleteIfExists(logFile)
    sweepUnreferencedManifests()
  }

  /** Delete manifest-group files no surviving snap file references —
    * losers of commit races and expired snapshots both leave them behind.
    * Reference-counted against the CURRENT snap files, so it is safe at
    * any time after a history rewrite. */
  private def sweepUnreferencedManifests(): Unit = {
    val referenced = listSnapFiles()
      .flatMap(p => referencedManifests(mapper.readTree(Files.readString(p))))
      .toSet
    if (Files.exists(metaDir)) {
      val s = Files.list(metaDir)
      try s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("manifest-") && n.endsWith(".json") && !referenced(n)
        }.toSeq.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  private def listSnapFiles(): Seq[Path] =
    if (!Files.exists(metaDir)) Seq.empty
    else {
      val s = Files.list(metaDir)
      try s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("snap-") && n.endsWith(".json")
        }.toSeq.sortBy(p => p.getFileName.toString
          .stripPrefix("snap-").stripSuffix(".json").toLong)
      finally s.close()
    }

  // ---- named refs (Iceberg branch/tag surface: tag → snapshot id) ------

  /** All named refs. */
  def refs: Map[String, Long] =
    if (!Files.exists(refsFile)) Map.empty
    else {
      val node = mapper.readTree(Files.readString(refsFile))
      node.asInstanceOf[ObjectNode].properties().asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap
    }

  /** Create/update a named ref (tag) pointing at a committed snapshot.
    * Atomic replace of the refs file (read-modify-write; tags are
    * metadata-scale and ref updates are rare — maintenance ops, not the
    * data path). */
  def setRef(name: String, snapshotId: Long): Unit = {
    init()
    require(committedIds().contains(snapshotId) ||
      load().snapshots.exists(_.id == snapshotId),
      s"ref $name: snapshot $snapshotId is not committed")
    val root = mapper.createObjectNode()
    (refs + (name -> snapshotId)).toSeq.sortBy(_._1)
      .foreach { case (k, v) => root.put(k, v) }
    val tmp = Files.createTempFile(metaDir, ".refs", ".tmp")
    Files.writeString(tmp, mapper.writeValueAsString(root))
    Files.move(tmp, refsFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drop a named ref (no-op if absent). */
  def removeRef(name: String): Unit =
    if (refs.contains(name)) {
      val root = mapper.createObjectNode()
      (refs - name).toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v) }
      val tmp = Files.createTempFile(metaDir, ".refs", ".tmp")
      Files.writeString(tmp, mapper.writeValueAsString(root))
      Files.move(tmp, refsFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

  // ---- sharded manifests (the Iceberg manifest-list analog) ------------
  //
  // A snapshot whose file lists exceed [[SnapshotLog.ShardThreshold]]
  // entries does NOT inline them in `snap-<id>.json`; the entries are
  // written in groups of [[SnapshotLog.ManifestGroupSize]] to
  // `manifest-<id>-<token>-{data|delete}-<g>.json` files, and the snap
  // file carries the group NAMES. Why:
  //   - the snap file stays metadata-scale however many files a bulk
  //     append registers (a 10^7-file commit is ~2.4k manifest files, not
  //     one multi-GB JSON line);
  //   - load() parses surviving groups CONCURRENTLY (driver thread pool
  //     here; a remote object store would fetch them in parallel too),
  //     breaking the single-threaded parse bottleneck flagged at 100×
  //     file counts;
  //   - group files are immutable once the snap publishes, so the
  //     commit protocol is unchanged: groups are written first (invisible
  //     until referenced), then the atomic snap-link publishes both. The
  //     random token keeps two writers racing the same id from colliding
  //     on group names — the loser's groups become garbage that
  //     [[rewrite]] (expiry) sweeps by reference counting.

  private def writeManifestGroups(id: Long, token: String, side: String,
                                  nodes: Seq[ObjectNode]): Seq[String] =
    nodes.grouped(SnapshotLog.ManifestGroupSize).zipWithIndex.map { case (g, gi) =>
      val name = s"manifest-$id-$token-$side-$gi.json"
      val arr = mapper.createArrayNode()
      g.foreach(arr.add)
      val tmp = Files.createTempFile(metaDir, ".man", ".tmp")
      Files.writeString(tmp, mapper.writeValueAsString(arr))
      Files.move(tmp, metaDir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      name
    }.toSeq

  /** Parse the named manifest groups concurrently — the whole chain (file
    * read, JSON parse, AND node→entry conversion) runs inside each task so
    * nothing per-entry is left on the calling thread. Group order is
    * preserved. */
  private def readManifestGroups[T](names: Seq[String],
                                    convert: JsonNode => T): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val perGroup = names.map { name =>
      Future {
        val p = metaDir.resolve(name)
        require(Files.exists(p), s"missing manifest group $name — " +
          "metadata corrupted or expiry raced this reader")
        // a local ObjectMapper per task: Jackson mappers are thread-safe
        // for read but sharing one across a pool serializes on nothing —
        // keep tasks independent
        val vec = new ObjectMapper().readTree(Files.readString(p))
          .asInstanceOf[ArrayNode].elements().asScala.map(convert).toVector
        SnapshotLog.driverGroupEntriesParsed.addAndGet(vec.size)
        vec
      }
    }
    Await.result(Future.sequence(perGroup), Duration.Inf).flatten
  }

  /** One row per physical manifest UNIT — the `manifests` metadata-table
    * feed (the Iceberg manifest-list view). An inline snapshot reports one
    * `inline` unit per non-empty side; a sharded snapshot reports each
    * manifest-group FILE. Data-side group stats come from the persisted
    * [[ManifestGroupStats]] legend, so the group files themselves stay
    * UNREAD — O(snap files) at 10^7 entries. Delete groups carry no
    * persisted legend; they are parsed for exact counts (the same eager
    * cost [[loadOutline]] already pays for delete manifests).
    *
    * Tuple: (snapshotId, content, unit, files, rows, minSeq, maxSeq);
    * rows = -1 when any member file's declared count is unknown (the
    * bulk-append sentinel); delete units report rows = -1 (a delete
    * manifest entry declares no row count). */
  def manifestIndex(): Seq[(Long, String, String, Int, Long, Long, Long)] =
    listSnapFiles().flatMap { p =>
      val n = mapper.readTree(Files.readString(p))
      val sid = n.get("id").asLong
      def inlineUnit(field: String, content: String) = {
        val entries = Option(n.get(field))
          .map(_.elements().asScala.toSeq).getOrElse(Nil)
        if (entries.isEmpty) Nil
        else {
          val rows = entries.map(e => e.get("recordCount") match {
            case null => -1L
            case rc => rc.asLong
          })
          val seqs = entries.map(_.get("seq").asLong)
          Seq((sid, content, "inline", entries.size,
            if (content == "data" && rows.forall(_ >= 0)) rows.sum else -1L,
            seqs.min, seqs.max))
        }
      }
      val data = Option(n.get("dataManifests")) match {
        case Some(man) =>
          val names = man.elements().asScala.map(_.asText).toSeq
          val stats = Option(n.get("dataManifestStats"))
            .map(_.elements().asScala.map(parseGroupStats).toSeq).getOrElse(Nil)
          names.zipWithIndex.map { case (name, i) =>
            val st = stats.lift(i)
            (sid, "data", name, st.map(_.files).getOrElse(-1),
              st.map(_.rows).getOrElse(-1L), st.map(_.minSeq).getOrElse(-1L),
              st.map(_.maxSeq).getOrElse(-1L))
          }
        case None => inlineUnit("dataFiles", "data")
      }
      val dels = Option(n.get("deleteManifests")) match {
        case Some(man) =>
          man.elements().asScala.map(_.asText).toSeq.map { name =>
            val seqs = readManifestGroups(Seq(name), _.get("seq").asLong)
            (sid, "deletes", name, seqs.size, -1L,
              if (seqs.isEmpty) -1L else seqs.min,
              if (seqs.isEmpty) -1L else seqs.max)
          }
        case None => inlineUnit("deleteFiles", "deletes")
      }
      data ++ dels
    }

  /** Manifest-group names referenced by a snap file's JSON. */
  private def referencedManifests(n: JsonNode): Seq[String] =
    Seq("dataManifests", "deleteManifests").flatMap(f =>
      Option(n.get(f)).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil))

  // ---- json ----

  private def listVersioned(prefix: String): Seq[(Int, Path)] =
    if (!Files.exists(metaDir)) Seq.empty
    else {
      val s = Files.list(metaDir)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(prefix))
        .map(p => (p.getFileName.toString.stripPrefix(prefix).stripSuffix(".json").toInt, p))
        .toSeq.sortBy(_._1)
      finally s.close()
    }

  private def putPartition(o: ObjectNode, partition: Map[String, String]): Unit = {
    val p = o.putObject("partition")
    partition.foreach { case (k, v) => p.put(k, v) }
  }

  private def putMetrics(o: ObjectNode, metrics: Map[Int, ColMetrics]): Unit =
    if (metrics.nonEmpty) {
      val m = o.putObject("metrics")
      metrics.toSeq.sortBy(_._1).foreach { case (fid, cm) =>
        val e = m.putObject(fid.toString)
        cm.min.foreach(e.put("min", _)); cm.max.foreach(e.put("max", _))
        e.put("nulls", cm.nullCount)
        cm.bloom.foreach(e.put("bloom", _))
      }
    }

  private def metricsOf(n: JsonNode): Map[Int, ColMetrics] =
    SnapshotLog.metricsOfNode(n)

  private def dataFileNode(f: DataFileEntry): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("path", f.path); o.put("specId", f.specId); o.put("schemaV", f.schemaV)
    o.put("seq", f.seq); o.put("recordCount", f.recordCount)
    if (f.firstRowId >= 0) o.put("firstRowId", f.firstRowId)
    if (f.lineageInFile) o.put("lineageInFile", true)
    putPartition(o, f.partition)
    putMetrics(o, f.metrics)
    o
  }

  private def deleteFileNode(f: DeleteFileEntry): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("path", f.path); o.put("kind", f.kind); o.put("seq", f.seq)
    val eq = o.putArray("equalityCols"); f.equalityCols.foreach(eq.add)
    val eqi = o.putArray("equalityIds"); f.equalityIds.foreach(eqi.add)
    if (f.keyColsWritten.nonEmpty) {
      val kw = o.putArray("keyColsWritten"); f.keyColsWritten.foreach(kw.add)
    }
    putPartition(o, f.partition)
    putMetrics(o, f.metrics)
    o
  }

  /** Fold ONE manifest group's entries into its inline stats node. The
    * metrics fold is type-aware through the snapshot's schema (numerics
    * compare as BigDecimal); a field rides the group stats only when EVERY
    * file in the group carries its metrics and every bound compares
    * cleanly (NaN/Infinity renderings drop the field — sound: absence just
    * forces the exact path). */
  private def groupStatsNode(g: Seq[DataFileEntry], schemaV: Int): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("files", g.size)
    o.put("rows", if (g.forall(_.recordCount >= 0)) g.map(_.recordCount).sum else -1L)
    o.put("minSeq", g.map(_.seq).min)
    o.put("maxSeq", g.map(_.seq).max)
    val schemaPath = metaDir.resolve(s"schema-$schemaV.json")
    val fields: Seq[(Int, org.apache.spark.sql.types.DataType)] =
      if (!Files.exists(schemaPath)) Nil
      else GraftSchema.fromJson(Files.readString(schemaPath)).fields
        .map(f => f.id -> f.dataType)
    val cmp = graft.read.MorReader.cmpMetric _
    val folded: Map[Int, ColMetrics] = fields.flatMap { case (fid, dt) =>
      val per = g.map(_.metrics.get(fid))
      if (!per.forall(_.isDefined)) None
      else {
        val ms = per.flatten
        val bounds = ms.flatMap(m => m.min.zip(m.max))
        val nulls = ms.map(_.nullCount).sum
        if (bounds.isEmpty) Some(fid -> ColMetrics(None, None, nulls))
        else {
          var ok = true
          var mn = bounds.head._1
          var mx = bounds.head._2
          bounds.tail.foreach { case (lo, hi) =>
            cmp(dt, lo, mn) match {
              case Some(c) => if (c < 0) mn = lo
              case None => ok = false
            }
            cmp(dt, hi, mx) match {
              case Some(c) => if (c > 0) mx = hi
              case None => ok = false
            }
          }
          // self-compares reject NaN-style renderings on 1-element groups
          if (ok && cmp(dt, mn, mn).isDefined && cmp(dt, mx, mx).isDefined)
            Some(fid -> ColMetrics(Some(mn), Some(mx), nulls))
          else None
        }
      }
    }.toMap
    putMetrics(o, folded)
    o
  }

  private def parseGroupStats(n: JsonNode): ManifestGroupStats =
    ManifestGroupStats(n.get("files").asInt, n.get("rows").asLong,
      n.get("minSeq").asLong, n.get("maxSeq").asLong,
      SnapshotLog.metricsOfNode(n))

  /** Render a snapshot. With `shard = true` (the on-disk snap files),
    * oversized file lists move into manifest-group files and only their
    * names are inlined; `shard = false` (the legacy single-file log)
    * always inlines. */
  private def renderSnapshot(s: Snapshot, shard: Boolean = true): String = {
    val root = mapper.createObjectNode()
    root.put("id", s.id); root.put("seq", s.seq)
    root.put("schemaV", s.schemaV); root.put("specId", s.specId)
    root.put("timestampMs", s.timestampMs); root.put("operation", s.operation)
    if (s.nextRowId >= 0) root.put("nextRowId", s.nextRowId)
    // default-omitted: main snapshots render byte-identical to pre-branch
    // logs, and legacy logs parse back as main
    if (s.branch != "main") root.put("branch", s.branch)
    if (s.summary.nonEmpty) {
      val sm = root.putObject("summary")
      s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sm.put(k, v) }
    }
    val big = s.dataFiles.size + s.deleteFiles.size > SnapshotLog.shardThreshold
    if (shard && big) {
      val token = java.util.UUID.randomUUID().toString.take(8)
      val dm = root.putArray("dataManifests")
      writeManifestGroups(s.id, token, "data", s.dataFiles.map(dataFileNode))
        .foreach(dm.add)
      // manifest-LIST stats: per-group aggregate entries (counts, seq
      // bounds, folded column envelopes) inline in the snap file — what
      // lets COUNT/MIN/MAX answer at 10^7-file scale without parsing the
      // groups (Iceberg's manifest-list added-rows/bounds analog)
      val stArr = root.putArray("dataManifestStats")
      s.dataFiles.grouped(SnapshotLog.ManifestGroupSize)
        .foreach(g => stArr.add(groupStatsNode(g, s.schemaV)))
      val xm = root.putArray("deleteManifests")
      writeManifestGroups(s.id, token, "delete", s.deleteFiles.map(deleteFileNode))
        .foreach(xm.add)
    } else {
      val dfs = root.putArray("dataFiles")
      s.dataFiles.foreach(f => dfs.add(dataFileNode(f)))
      val dels = root.putArray("deleteFiles")
      s.deleteFiles.foreach(f => dels.add(deleteFileNode(f)))
    }
    val rdf = root.putArray("removedDataFiles")
    s.removedDataFiles.foreach(rdf.add)
    val rdel = root.putArray("removedDeleteFiles")
    s.removedDeleteFiles.foreach(rdel.add)
    mapper.writeValueAsString(root)
  }

  private def partitionOf(n: JsonNode): Map[String, String] =
    SnapshotLog.partitionOfNode(n)

  private def parseDataEntry(o: JsonNode): DataFileEntry =
    SnapshotLog.dataEntryOfNode(o)

  private def parseDeleteEntry(o: JsonNode): DeleteFileEntry =
    DeleteFileEntry(o.get("path").asText, partitionOf(o), o.get("kind").asText,
      o.get("equalityCols").elements().asScala.map(_.asText).toSeq,
      o.get("equalityIds").elements().asScala.map(_.asInt).toSeq,
      o.get("seq").asLong,
      Option(o.get("keyColsWritten")) // absent on pre-field (legacy) logs
        .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
      metricsOf(o)) // absent on legacy logs → never pruned

  private def parseSnapshot(n: JsonNode): Snapshot = {
    val dfs = Option(n.get("dataManifests")) match {
      case Some(man) =>
        readManifestGroups(man.elements().asScala.map(_.asText).toSeq,
          parseDataEntry)
      case None =>
        n.get("dataFiles").asInstanceOf[ArrayNode].elements().asScala
          .map(parseDataEntry).toSeq
    }
    val dels = Option(n.get("deleteManifests")) match {
      case Some(man) =>
        readManifestGroups(man.elements().asScala.map(_.asText).toSeq,
          parseDeleteEntry)
      case None =>
        n.get("deleteFiles").asInstanceOf[ArrayNode].elements().asScala
          .map(parseDeleteEntry).toSeq
    }
    def strArr(field: String): Seq[String] = Option(n.get(field))
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
    val removedData = strArr("removedDataFiles")
    val removedDeletes = strArr("removedDeleteFiles")
    // legacy logs predate the explicit operation field: infer it exactly
    // the way the old incremental-scan classifier did, so their behavior
    // is unchanged — new logs always carry the field
    val op = Option(n.get("operation")).map(_.asText).getOrElse {
      if (removedData.nonEmpty || removedDeletes.nonEmpty) "replace"
      else if (dels.nonEmpty && dfs.nonEmpty) "overwrite"
      else if (dels.nonEmpty) "delete"
      else "append"
    }
    Snapshot(n.get("id").asLong, n.get("seq").asLong, n.get("schemaV").asInt,
      n.get("specId").asInt, dfs, dels, removedData, removedDeletes,
      Option(n.get("timestampMs")).map(_.asLong).getOrElse(0L), op,
      Option(n.get("branch")).map(_.asText).getOrElse("main"),
      Option(n.get("nextRowId")).map(_.asLong).getOrElse(-1L),
      SnapshotLog.summaryOfNode(n))
  }

  /** LIGHT parse of every committed snapshot's (id, branch, summary) —
    * no file-list or manifest-group materialization. The streaming sink's
    * exactly-once gate scans this per micro-batch; keeping it O(snap
    * files) rather than O(entries) is what makes the gate free on a
    * 10^7-file table. */
  def summaries(): Seq[(Long, String, Map[String, String])] = {
    val perFile = listSnapFiles().map { p =>
      val n = mapper.readTree(Files.readString(p))
      (n.get("id").asLong,
        Option(n.get("branch")).map(_.asText).getOrElse("main"),
        SnapshotLog.summaryOfNode(n))
    }
    val legacy =
      if (!Files.exists(logFile)) Seq.empty
      else Files.readAllLines(logFile).asScala.filter(_.nonEmpty).map { l =>
        val n = mapper.readTree(l)
        (n.get("id").asLong,
          Option(n.get("branch")).map(_.asText).getOrElse("main"),
          SnapshotLog.summaryOfNode(n))
      }.toSeq
    val ids = perFile.map(_._1).toSet
    (legacy.filterNot(s => ids(s._1)) ++ perFile).sortBy(_._1)
  }
}

object SnapshotLog {
  /** Entry count above which a snapshot's file lists shard into manifest
    * groups instead of inlining in the snap file. Overridable via system
    * property (integration tests shard tiny tables to drive the
    * outline-planning path end-to-end). */
  val ShardThreshold = 10000
  def shardThreshold: Int =
    sys.props.get("graft.shard.threshold").map(_.toInt).getOrElse(ShardThreshold)
  /** Entries per manifest-group file — matches the planning task size in
    * [[graft.read.MorReader.ManifestGroupSize]]. */
  val ManifestGroupSize = 4096

  /** Cumulative manifest-group ENTRIES materialized on the DRIVER (the
    * eager `load()` path — outline planning reads groups inside Spark
    * tasks through [[readDataManifestFile]] instead and must keep this
    * flat; ShardedManifestSpec gates a zero delta at 100k files). */
  val driverGroupEntriesParsed = new java.util.concurrent.atomic.AtomicLong(0L)

  def apply(tableDir: String): SnapshotLog = new SnapshotLog(Paths.get(tableDir))

  // ---- static entry parsing (shared by the driver loader and the
  // distributed outline planner, whose tasks parse group files without a
  // SnapshotLog instance) ------------------------------------------------

  private[meta] def partitionOfNode(n: JsonNode): Map[String, String] = {
    val p = n.get("partition").asInstanceOf[ObjectNode]
    p.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }

  private[meta] def summaryOfNode(n: JsonNode): Map[String, String] =
    Option(n.get("summary")).map { s =>
      s.asInstanceOf[ObjectNode].properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty)

  private[meta] def metricsOfNode(n: JsonNode): Map[Int, ColMetrics] =
    Option(n.get("metrics")).map { m =>
      m.asInstanceOf[ObjectNode].properties().asScala.map { e =>
        val v = e.getValue
        e.getKey.toInt -> ColMetrics(
          Option(v.get("min")).map(_.asText), Option(v.get("max")).map(_.asText),
          Option(v.get("nulls")).map(_.asLong).getOrElse(0L),
          Option(v.get("bloom")).map(_.asText))
      }.toMap
    }.getOrElse(Map.empty[Int, ColMetrics])

  private[meta] def dataEntryOfNode(o: JsonNode): DataFileEntry =
    DataFileEntry(o.get("path").asText, partitionOfNode(o), o.get("specId").asInt,
      o.get("schemaV").asInt, o.get("seq").asLong, o.get("recordCount").asLong,
      metricsOfNode(o),
      Option(o.get("firstRowId")).map(_.asLong).getOrElse(-1L),
      Option(o.get("lineageInFile")).exists(_.asBoolean))

  /** Read ONE data-manifest group file — designed to run inside a Spark
    * planning task (pure function of (metaDir, name); the metadata
    * directory is shared storage on a real cluster, the local FS here). */
  def readDataManifestFile(metaDir: String, name: String): Seq[DataFileEntry] = {
    val p = Paths.get(metaDir, name)
    require(Files.exists(p), s"missing manifest group $name — " +
      "metadata corrupted or expiry raced this reader")
    new ObjectMapper().readTree(Files.readString(p))
      .asInstanceOf[ArrayNode].elements().asScala.map(dataEntryOfNode).toVector
  }
}

/** One snapshot as an OUTLINE: sharded DATA file lists are NOT
  * materialized — `dataManifests` carries the group-file names and
  * `snapshot.dataFiles` is empty for them (inline lists parse as usual;
  * delete files are always materialized — the small side). The driver's
  * footprint for a 10^7-file snapshot is the group-name list, not the
  * entries; [[graft.read.MorReader]] plans the groups inside Spark tasks. */
final case class SnapshotOutline(snapshot: Snapshot, dataManifests: Seq[String],
                                 dataManifestStats: Seq[ManifestGroupStats] = Nil)

/** Outline-loaded table state: schemas/specs/delete files materialized,
  * sharded data-file lists represented by manifest-group names. */
final case class OutlineState(
    schemas: Map[Int, GraftSchema],
    specs: Map[Int, Seq[String]],
    outlines: Seq[SnapshotOutline],
    metaDir: String) {

  def mainOnly: OutlineState =
    copy(outlines = outlines.filter(_.snapshot.branch == "main"))

  def onBranch(name: String, forkId: Long): OutlineState =
    copy(outlines = outlines.filter(o =>
      (o.snapshot.branch == "main" && o.snapshot.id <= forkId) ||
        o.snapshot.branch == name))

  def asOf(snapshotId: Long): OutlineState =
    copy(outlines = outlines.filter(_.snapshot.id <= snapshotId))

  def asOfTime(tsMs: Long): OutlineState = {
    val upTo = outlines.filter(_.snapshot.timestampMs <= tsMs)
    require(upTo.nonEmpty,
      s"no snapshot committed at or before $tsMs (oldest: " +
        s"${outlines.headOption.map(_.snapshot.timestampMs).getOrElse("none")})")
    copy(outlines = upTo)
  }

  /** Does any retained snapshot keep its data entries sharded? */
  def hasShardedData: Boolean = outlines.exists(_.dataManifests.nonEmpty)

  def removedDataPaths: Set[String] =
    outlines.flatMap(_.snapshot.removedDataFiles).toSet

  def currentSchemaV: Int = outlines.lastOption.map(_.snapshot.schemaV).getOrElse(0)
  def schema: GraftSchema = schemas(currentSchemaV)
  def currentSpecId: Int = outlines.lastOption.map(_.snapshot.specId).getOrElse(0)
  def partitionCols: Seq[String] = specs.getOrElse(currentSpecId, Nil)

  /** Live delete files (removals applied) — always materialized, even on
    * sharded outlines (deletes are the metadata-scale side). */
  def liveDeleteFiles: Seq[DeleteFileEntry] = {
    val removed = outlines.flatMap(_.snapshot.removedDeleteFiles).toSet
    outlines.flatMap(_.snapshot.deleteFiles)
      .filterNot(f => removed(f.path)).distinctBy(_.path)
  }

  /** The state with `planned` standing in for ALL data files (survivors of
    * outline planning) — delete files, schemas, specs, snapshot ordering
    * intact. Only for scan construction; never re-persisted. */
  def withPlannedData(planned: Seq[DataFileEntry]): TableState = {
    val snaps = outlines.map(_.snapshot.copy(dataFiles = Nil,
      removedDataFiles = Nil))
    val carrier = snaps.lastOption.map(_.copy(dataFiles = planned))
    TableState(schemas, specs, snaps.dropRight(1) ++ carrier.toSeq)
  }

  /** Fully materialize (the eager-load equivalent) — the fallback when no
    * snapshot is sharded, where entries are already inline. */
  def toTableState: TableState = {
    require(!hasShardedData,
      "toTableState on a sharded outline would materialize the full list")
    TableState(schemas, specs, outlines.map(_.snapshot))
  }
}

/** A commit staged against a table version another writer has already
  * advanced past (Iceberg `CommitFailedException` analog). The staged
  * work is NOT committed; callers reload and re-stage. */
final class CommitConflictException(msg: String) extends RuntimeException(msg)
