package graft.read

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta._
import graft.schema.GraftSchema

/** Merge-on-read scan: snapshot log → live DataFrame.
  *
  * Implements the relational semantics an Iceberg-v2 reader must apply to
  * the reference's tables (SURVEY.md §2.4):
  *   - per-epoch schema projection (columns resolved by FIELD ID, so adds/
  *     drops/re-adds are correct even though Parquet resolves by name;
  *     reference `Main.java:440-443`),
  *   - positional deletes: anti-join on `(file_path, pos)` with
  *     `delete.seq >= data.seq` (reference writer
  *     `IcebergTableGenerator.java:237-286`),
  *   - equality deletes: anti-join on the equality key columns with STRICT
  *     `delete.seq > data.seq` visibility — rows appended after a delete
  *     survive it (the S10 golden-count semantics, `Main.java:328-354`),
  *     scoped to the delete file's partition,
  *   - declared record counts are never trusted: the scan reads real Parquet
  *     footers, so `appendEmptyFile`'s lying `record_count=1`
  *     (`IcebergTableGenerator.java:168`) is harmless by construction.
  *
  * Scale notes: planning is metadata-scale (driver filters the file list —
  * the manifest-pruning analog); delete sets join via equi-keys so Spark
  * picks broadcast-hash for small delete files and shuffle-hash/SMJ for
  * giant ones (S6's ~10^8-entry file) under AQE; per-file constants
  * (sequence number, first row id, partition scope) are stamped onto rows
  * by an in-row lookup keyed on the normalized `_metadata.file_path`
  * ([[FileConsts]]) — metadata the driver already holds, never a join.
  */
object MorReader {

  /** `_metadata.file_path` is a URI (`file:///a/b`); the log stores plain
    * absolute paths. Normalize to `/a/b` on every join key. */
  def normPath(c: Column): Column = regexp_replace(c, "^file:/+", "/")

  val FilePathCol = "_graft_file_path"
  val PosCol = "_graft_pos"
  val SeqCol = "_graft_seq"
  /** Row-lineage service columns (Iceberg v3): [[RowIdCol]] is the stable
    * row identity `firstRowId + position` (or the materialized value a
    * compaction preserved), [[LastSeqCol]] the sequence number that last
    * produced the row. */
  val RowIdCol = "_graft_row_id"
  val LastSeqCol = "_graft_last_seq"

  /** Delete files that SURVIVED plan-time pruning, cumulative across scans
    * (specs read the delta around one scan to pin the pruning invariant). */
  private[graft] val deleteFilesPlanned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Data files that SURVIVED plan-time pruning (partition + stats +
    * bloom), cumulative — the data-side sibling of [[deleteFilesPlanned]],
    * used to gate e.g. [[graft.table.GraftTableGenerator.mergeInto]]'s
    * source-envelope target pruning. */
  private[graft] val dataFilesPlanned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** How many scans planned through the DISTRIBUTED path (spec gate). */
  private[graft] val distributedPlans = new java.util.concurrent.atomic.AtomicLong(0L)

  /** File-count threshold above which per-file plan predicates (partition +
    * metrics/bloom pruning) evaluate in a SPARK JOB over manifest groups
    * instead of the single-threaded driver loop. At thousands of files the
    * driver loop is metadata-scale and a job would only add latency; at
    * millions (the Iceberg manifest-list problem) the driver loop becomes
    * the planning bottleneck — this is the scale valve. Override with
    * `spark.conf.set(`[[DistributedPlanThresholdConf]]`, n)`. */
  val DistributedPlanThresholdConf = "graft.plan.distributedFileThreshold"
  val DefaultDistributedPlanThreshold = 200000
  /** Entries per planning task — the in-memory analog of one sharded
    * manifest-group file; a persisted sharded log would hand each task a
    * group FILE path instead of the entries themselves. */
  val ManifestGroupSize = 4096

  /** Deletion-vector delete-file count up to which the DV application
    * join carries an explicit broadcast hint (one build row per data
    * file — broadcast-size by construction; the bound only guards the
    * pathological million-vector manifest). */
  val DvBroadcastFileBound = 100000

  /** Estimated DV bitmap payload (bytes — words arrays are rows/64 longs
    * over the scoped data files) above which the forced broadcast is NOT
    * applied: a few thousand vectors over billion-row files would blow the
    * 8 GB BroadcastExchange limit a bare file-count bound ignores. */
  val DvBroadcastMaxBytes: Long = 64L << 20

  /** Inclusive bounds (equality when `lo == hi`) over one column, rendered
    * as canonical strings — the same representation [[graft.meta.ColMetrics]]
    * stores, so file pruning compares without opening anything.
    *
    * `ColRange()` (no bounds) still prunes ALL-NULL files — the envelope
    * test is vacuous but demands SOME min/max — which is exactly the
    * `IS NOT NULL` file test (e.g. a column added by schema evolution is
    * all-null in every pre-evolution file). `needNull = true` is the
    * `IS NULL` side: only files with a nonzero manifest nullCount can
    * produce a null row. */
  final case class ColRange(lo: Option[String] = None, hi: Option[String] = None,
                            needNull: Boolean = false)

  /** May delete file `d`'s scope touch data file `f`? A delete's partition
    * map is a SCOPE, not an identity: empty = global (upsert/merge write
    * table-root delete files), and any recorded key must agree with the
    * file's value. Equality comparison here once made fastCount treat a
    * global eq-delete as inapplicable to every partitioned file — caught
    * by the bucketed fuzz the moment bulk appends gained real counts. */
  private def deleteScopeTouches(d: DeleteFileEntry, f: DataFileEntry): Boolean =
    d.partition.forall { case (k, v) => f.partition.get(k).contains(v) }

  def read(spark: SparkSession, tableDir: String): DataFrame =
    read(spark, tableDir, None, Map.empty)

  /** Time travel (SURVEY.md §2.8 `snapshot_scan`). */
  def readAt(spark: SparkSession, tableDir: String, snapshotId: Long): DataFrame =
    read(spark, tableDir, Some(snapshotId), Map.empty)

  /** Timestamp time travel (Iceberg `FOR TIMESTAMP AS OF`): the state as of
    * the newest snapshot whose writer-stamped `timestampMs` is <= `tsMs`.
    * Errors if the table has no snapshot that old — same contract as
    * Iceberg's timestamp resolution ([[graft.meta.TableState.asOfTime]]). */
  def readAtTime(spark: SparkSession, tableDir: String, tsMs: Long): DataFrame = {
    val st = SnapshotLog(tableDir).load().mainOnly.asOfTime(tsMs)
    val live = st.schema
    withMeta(spark, st, live, Map.empty).select(live.names.map(col): _*)
  }

  /** Read at a named ref — Iceberg `VERSION AS OF 'tag-or-branch'`. A tag
    * resolves to its snapshot id and scans like any snapshot read; a
    * branch name (stored as ref `branch:<name>`, either form accepted)
    * resolves to the branch LINEAGE via [[readBranch]] — the Iceberg rule
    * that a branch ref means its head, not its fork. */
  def readRef(spark: SparkSession, tableDir: String, ref: String): DataFrame = {
    val refs = SnapshotLog(tableDir).refs
    if (ref.startsWith("branch:")) readBranch(spark, tableDir, ref.stripPrefix("branch:"))
    else if (refs.contains(ref)) readAt(spark, tableDir, refs(ref))
    else if (refs.contains(s"branch:$ref")) readBranch(spark, tableDir, ref)
    else throw new IllegalArgumentException(
      s"unknown ref '$ref' (known: ${refs.keys.toSeq.sorted.mkString(", ")})")
  }

  /** Read a writable branch's lineage (Iceberg `VERSION AS OF 'branch'`):
    * main history up to the recorded fork snapshot plus the branch's own
    * commits, resolved through ref `branch:<name>`, then planned exactly
    * like any snapshot read ([[graft.meta.TableState.onBranch]]). */
  def readBranch(spark: SparkSession, tableDir: String, name: String): DataFrame = {
    val log = SnapshotLog(tableDir)
    val key = s"branch:$name"
    val refs = log.refs
    require(refs.contains(key),
      s"unknown branch '$name' (refs: ${refs.keys.toSeq.sorted.mkString(", ")})")
    val st = log.load().onBranch(name, refs(key))
    val live = st.schema
    withMeta(spark, st, live, Map.empty).select(live.names.map(col): _*)
  }

  /** Range/equality-predicate read with FILE-LEVEL pruning from the
    * snapshot log's per-column min/max metrics (the manifest-metrics
    * pruning an Iceberg reader gets from `withMetrics`, reference
    * `IcebergTableGenerator.java:420`): files whose recorded [min, max]
    * cannot intersect a bound are never opened — a driver-side metadata
    * decision over the log, no footer I/O. At millions of files this is
    * the difference between a metadata-scale plan and a million footer
    * reads; surviving files still apply the predicate row-level (Parquet
    * row-group skipping then handles sub-file granularity for free). */
  def readRange(spark: SparkSession, tableDir: String,
                ranges: Map[String, ColRange]): DataFrame =
    read(spark, tableDir, None, Map.empty, ranges)

  /** IN-set point read: keep only files that might contain AT LEAST ONE of
    * `values` (canonical strings, the [[graft.meta.ColMetrics]] rendering)
    * in `colName`. Per value, the test is the min/max envelope AND the
    * manifest Bloom filter when one was written — so on a bloom-indexed
    * high-cardinality column an N-value lookup opens only the files that
    * actually hold one of the values, where a single [min(values),
    * max(values)] range (the best [[readRange]] could do) would keep every
    * file between the extremes. Surviving files still apply the row-level
    * IN predicate; missing stats keep the file (never unsound). */
  def readValues(spark: SparkSession, tableDir: String, colName: String,
                 values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "readValues needs at least one probe value")
    read(spark, tableDir, None, Map.empty, pointValues = Map(colName -> values.toSet))
  }

  /** Partition-pruned read: `filter` maps partition col → allowed values
    * (the `Expressions.in` analog, reference
    * `IcebergTableGenerator.java:195-200`). Files whose partition metadata
    * excludes the values are never opened; files from OLDER spec epochs that
    * lack the partition key cannot be file-pruned, so the predicate is also
    * applied to rows (sound because only identity transforms exist — the
    * partition value is a data column, reference `Main.java:142,156,362`). */
  def readWhere(spark: SparkSession, tableDir: String,
                filter: Map[String, Set[String]]): DataFrame =
    read(spark, tableDir, None, filter)

  def read(spark: SparkSession, tableDir: String, asOf: Option[Long],
           partitionFilter: Map[String, Set[String]],
           ranges: Map[String, ColRange] = Map.empty,
           pointValues: Map[String, Set[String]] = Map.empty,
           keepInternal: Seq[String] = Nil,
           lineage: Option[(String, Long)] = None): DataFrame = {
    // OUTLINE load: sharded manifest groups stay unmaterialized — when any
    // retained snapshot shards its data list, per-file plan predicates
    // evaluate inside Spark tasks that each read ONE group file, so the
    // driver holds group names + survivors, never the full file list (the
    // 10^7-file manifest problem). Non-sharded logs take the eager path
    // unchanged (same parse work, zero job latency).
    // `lineage = Some((branch, forkId))` reads the BRANCH lineage instead
    // of main — the WAP-routed rewrite verbs must read what they write.
    val o0 = lineage match {
      case Some((name, fork)) =>
        SnapshotLog(tableDir).loadOutline().onBranch(name, fork)
      case None => SnapshotLog(tableDir).loadOutline().mainOnly
    }
    val o = asOf.map(o0.asOf).getOrElse(o0)
    val st =
      if (o.hasShardedData)
        o.withPlannedData(
          planDataFilesOutline(spark, o, o.schema, partitionFilter, ranges))
      else o.toTableState
    val live = st.schema
    val partPred = partitionFilter.collect {
      case (k, vs) if live.names.contains(k) =>
        col(k).cast("string").isin(vs.toSeq: _*)
    }.foldLeft(lit(true))(_ && _)
    // surviving files still need the row-level predicate (their stats
    // intersect the range, not every row does)
    val rangePred = ranges.collect {
      case (k, r) if live.names.contains(k) =>
        val dt = live.fields.find(_.name == k).get.dataType
        (r.lo.map(lo => col(k) >= lit(lo).cast(dt)) ++
          r.hi.map(hi => col(k) <= lit(hi).cast(dt)) ++
          (if (r.needNull) Seq(col(k).isNull) else Nil))
          .reduceOption(_ && _).getOrElse(lit(true)) // ColRange() = unbounded
    }.foldLeft(lit(true))(_ && _)
    // point-value (equality / IN-set) file pruning beyond what min/max
    // ranges can express: per value, the metrics envelope AND the manifest
    // Bloom filter (the [[readValues]] test), PLUS hidden-partition
    // pruning — each file's own spec epoch maps the probe values through
    // its transform (bucket/truncate/day/...) and requires the file's
    // partition value to match one. This is what makes a SQL point lookup
    // on a bucket(n, col) table open 1/n of the files instead of all of
    // them. Missing stats/spec/partName keep the file — never unsound.
    val keep: DataFileEntry => Boolean =
      pointValuesKeep(spark, st.specs, live, pointValues)
    // surviving files re-apply the IN-set row-level (same soundness rule
    // as partPred/rangePred: stats intersect, not every row does)
    val pointPred = pointValues.collect {
      case (k, vs) if live.names.contains(k) && vs.nonEmpty =>
        val dt = live.fields.find(_.name == k).get.dataType
        vs.toSeq.map(v => col(k) === lit(v).cast(dt)).reduce(_ || _)
    }.foldLeft(lit(true))(_ && _)
    withMeta(spark, st, live, partitionFilter, ranges, keep, pointValues)
      .where(partPred && rangePred && pointPred)
      .select((live.names ++ keepInternal).map(col): _*)
  }

  /** Metadata-only COUNT(*) — Iceberg's manifest-count path: when NO
    * delete file can apply to any selected data file (positional deletes
    * kill rows in same-partition files with seq <= theirs, equality
    * deletes with seq strictly below theirs), the count is the sum of the
    * declared record counts — zero file I/O, zero Spark jobs, a pure
    * driver fold over the (possibly partition-pruned) manifest. Any
    * potentially-applicable delete file falls back to the exact MoR scan.
    *
    * Returns (count, metadataOnly). CAVEAT, deliberately inherited from
    * Iceberg: the manifest path TRUSTS declared record counts — the S2
    * stressor (`appendEmptyFile`) writes a lying count=1 on purpose, and
    * there the manifest path reproduces what Iceberg's own count
    * optimization returns while the scan path stays the ground truth
    * (pinned by FastCountSpec). */
  def fastCount(spark: SparkSession, tableDir: String,
                partitionFilter: Map[String, Set[String]] = Map.empty)
      : (Long, Boolean) = {
    val st = SnapshotLog(tableDir).load().mainOnly
    val live = st.schema
    val files = planDataFiles(spark, st.dataFiles, live, partitionFilter, Map.empty)
    val deleteMayApply = st.deleteFiles.exists { d =>
      files.exists { f =>
        deleteScopeTouches(d, f) &&
          (if (d.kind == "eq") f.seq < d.seq else f.seq <= d.seq)
      }
    }
    // bulk/DataFrame appends register recordCount = -1 (count unknown —
    // the writer skipped the count job); any unknown forces the scan
    val countsKnown = files.forall(_.recordCount >= 0)
    if (!deleteMayApply && countsKnown) (files.map(_.recordCount).sum, true)
    else {
      val partPred = partitionFilter.collect {
        case (k, vs) if live.names.contains(k) =>
          col(k).cast("string").isin(vs.toSeq: _*)
      }.foldLeft(lit(true))(_ && _)
      (withMeta(spark, st, live, partitionFilter).where(partPred).count(), false)
    }
  }

  /** The PURE-METADATA half of [[fastCount]]: Some(count) when the answer
    * is a driver fold over the manifest (no applicable delete, all counts
    * declared), None when only an exact scan can answer. Never launches a
    * job or opens a file — safe to call from analysis-time rules (the SQL
    * COUNT(*) pushdown, [[graft.catalog.GraftCatalogRule]]). Outline-driven:
    * a sharded 10^7-file snapshot answers from its inline manifest-group
    * stats without materializing a single group file. */
  def fastCountMetadataOnly(tableDir: String): Option[Long] =
    fastAggsMetadataOnly(tableDir, Seq(MetaAgg.Count)).flatMap(_.head).map(_.toLong)

  /** One ungrouped aggregate the manifest might answer without a scan. */
  sealed trait MetaAgg
  object MetaAgg {
    case object Count extends MetaAgg
    /** COUNT(col) — non-null count, `Σ(recordCount − nullCount)`. Needs
      * complete per-file metrics (the lying empty file carries none, so
      * it forces the scan — unlike COUNT(*), this path never extends the
      * trust-the-declared-count caveat to null bookkeeping). */
    final case class CountCol(col: String) extends MetaAgg
    final case class MinOf(col: String) extends MetaAgg
    final case class MaxOf(col: String) extends MetaAgg
  }

  /** Metadata-only evaluation of a set of ungrouped COUNT(*)/MIN/MAX
    * aggregates (Iceberg's aggregate pushdown family, extended to sharded
    * manifests). Returns `Some(values)` — per-aggregate canonical strings,
    * `None` value = SQL NULL (MIN/MAX of an empty or all-null column) —
    * when EVERY aggregate is answerable; outer `None` when any needs the
    * exact scan (possible deletes, unknown counts, missing metrics,
    * NaN-ish bounds). Count trusts declared record counts (the documented
    * Iceberg caveat, see [[fastCount]]); MIN/MAX metrics are always
    * computed from real file content, so that path is exact.
    *
    * Drives from [[SnapshotLog.loadOutline]]: non-sharded logs fold the
    * inline entries exactly as before; sharded snapshots answer from their
    * inline [[graft.meta.ManifestGroupStats]] with CONSERVATIVE delete
    * checks (a delete may apply if any group's seq range could admit it —
    * partition scopes are not consulted), falling back to the scan when a
    * sharded snapshot predates group stats or anything was removed. */
  def fastAggsMetadataOnly(tableDir: String, aggs: Seq[MetaAgg],
                           partitionEq: Map[String, Set[String]] = Map.empty)
      : Option[Seq[Option[String]]] =
    fastAggsOutline(SnapshotLog(tableDir).loadOutline().mainOnly, aggs,
      partitionEq)

  /** [[fastAggsMetadataOnly]] over an ALREADY-PINNED outline state — the
    * time-travel entry point (`SELECT count(*) … VERSION AS OF v` folds
    * the manifest at that snapshot; `asOf` is a plain ≤-filter in both
    * this and the scan path, so the semantics cannot diverge). */
  def fastAggsOutline(out: graft.meta.OutlineState, aggs: Seq[MetaAgg],
                      partitionEq: Map[String, Set[String]] = Map.empty)
      : Option[Seq[Option[String]]] = {
    if (out.outlines.isEmpty)
      return Some(aggs.map {
        case MetaAgg.Count | MetaAgg.CountCol(_) => Some("0"); case _ => None })
    val live = out.schema
    if (!out.hasShardedData) {
      val st = out.toTableState
      // a partition-exact WHERE needs every live file identity-attributed
      // on the filter columns (identity means file-partition equality IS
      // row equality — the filter drops whole files, residue-free)
      val all = st.dataFiles
      if (partitionEq.nonEmpty && !all.forall { f =>
        val spec = st.specs.getOrElse(f.specId, Nil)
        partitionEq.keys.forall(c => spec.contains(c) &&
          f.partition.get(c).exists(_ != null))
      }) return None
      val files = all.filter(f =>
        partitionEq.forall { case (c, vs) => vs(f.partition(c)) })
      val deleteMayApply = st.deleteFiles.exists { d =>
        files.exists { f =>
          deleteScopeTouches(d, f) &&
            (if (d.kind == "eq") f.seq < d.seq else f.seq <= d.seq)
        }
      }
      if (deleteMayApply) return None
      sequenceAggs(aggs.map(evalAggInline(_, files, live)))
    } else if (partitionEq.nonEmpty) {
      None // group stats don't break down per partition — scan
    } else {
      // removals can't be attributed to unread groups — only the scan knows
      if (out.outlines.exists(_.snapshot.removedDataFiles.nonEmpty)) return None
      val inline = out.outlines.flatMap(_.snapshot.dataFiles)
      val shardedOutlines = out.outlines.filter(_.dataManifests.nonEmpty)
      // every sharded snapshot must carry aligned group stats (logs written
      // before the field force the scan — sound, never wrong)
      if (shardedOutlines.exists(o =>
        o.dataManifestStats.size != o.dataManifests.size)) return None
      val groups = shardedOutlines.flatMap(_.dataManifestStats)
      val deletes = out.liveDeleteFiles
      val deleteMayApply = deletes.exists { d =>
        inline.exists { f =>
          deleteScopeTouches(d, f) &&
            (if (d.kind == "eq") f.seq < d.seq else f.seq <= d.seq)
        } || groups.exists { g =>
          if (d.kind == "eq") g.minSeq < d.seq else g.minSeq <= d.seq
        }
      }
      if (deleteMayApply) return None
      sequenceAggs(aggs.map { a =>
        (evalAggInline(a, inline, live), evalAggGroups(a, groups, live)) match {
          case (Some(x), Some(y)) => mergeAgg(a, x, y, live)
          case _ => None
        }
      })
    }
  }

  private def sequenceAggs(rs: Seq[Option[Option[String]]])
      : Option[Seq[Option[String]]] =
    if (rs.exists(_.isEmpty)) None else Some(rs.map(_.get))

  /** Metadata-only GROUP BY over IDENTITY partition columns: one row per
    * live partition tuple with its COUNT/COUNT(col)/MIN/MAX folded from
    * that partition's file entries — `SELECT day, count(*) GROUP BY day`
    * is a driver manifest fold at any table size below the shard
    * threshold. Soundness guards: every live file must be
    * identity-partitioned on every grouping column UNDER ITS OWN SPEC
    * (spec evolution leaves old files un-attributable — scan), with a
    * recorded non-null value; the usual no-applicable-delete rule; and
    * sharded snapshots always fall back (group stats don't break down per
    * partition). Groups whose declared counts sum to zero are dropped —
    * SQL GROUP BY emits no row for an empty group. Returns rows sorted by
    * the group tuple for determinism: (group values, agg values). */
  def fastGroupedAggsMetadataOnly(tableDir: String, groupCols: Seq[String],
                                  aggs: Seq[MetaAgg],
                                  partitionEq: Map[String, Set[String]] = Map.empty)
      : Option[Seq[(Seq[String], Seq[Option[String]])]] =
    fastGroupedAggsOutline(SnapshotLog(tableDir).loadOutline().mainOnly,
      groupCols, aggs, partitionEq)

  /** [[fastGroupedAggsMetadataOnly]] over an already-pinned outline. */
  def fastGroupedAggsOutline(out: graft.meta.OutlineState,
                             groupCols: Seq[String], aggs: Seq[MetaAgg],
                             partitionEq: Map[String, Set[String]] = Map.empty)
      : Option[Seq[(Seq[String], Seq[Option[String]])]] = {
    if (groupCols.isEmpty) return None
    if (out.outlines.isEmpty) return Some(Nil)
    if (out.hasShardedData) return None
    val st = out.toTableState
    val attrCols = (groupCols ++ partitionEq.keys).distinct
    val all = st.dataFiles
    val attributable = all.forall { f =>
      val spec = st.specs.getOrElse(f.specId, Nil)
      attrCols.forall(c => spec.contains(c) &&
        f.partition.get(c).exists(_ != null))
    }
    if (!attributable) return None
    val files = all.filter(f =>
      partitionEq.forall { case (c, vs) => vs(f.partition(c)) })
    val deleteMayApply = st.deleteFiles.exists { d =>
      files.exists { f =>
        deleteScopeTouches(d, f) &&
          (if (d.kind == "eq") f.seq < d.seq else f.seq <= d.seq)
      }
    }
    if (deleteMayApply) return None
    if (!files.forall(_.recordCount >= 0)) return None
    val live = out.schema
    val rows = files.groupBy(f => groupCols.map(f.partition(_)))
      .toSeq
      .filter { case (_, fs) => fs.map(_.recordCount).sum > 0 }
      .sortBy(_._1.mkString(" "))
      .map { case (k, fs) => (k, aggs.map(evalAggInline(_, fs, live))) }
    if (rows.exists(_._2.exists(_.isEmpty))) None
    else Some(rows.map { case (k, vs) => (k, vs.map(_.get)) })
  }

  private def aggField(a: MetaAgg, live: GraftSchema) = a match {
    case MetaAgg.MinOf(c) => live.fields.find(_.name == c)
    case MetaAgg.MaxOf(c) => live.fields.find(_.name == c)
    case MetaAgg.CountCol(c) => live.fields.find(_.name == c)
    case MetaAgg.Count => None
  }

  /** Fold canonical bounds; None when any compare is undecidable (NaN). */
  private def foldBound(dt: DataType, vals: Seq[String], wantMin: Boolean)
      : Option[String] = {
    var acc = vals.head
    // a self-compare rejects NaN-ish single values too
    if (cmpMetric(dt, acc, acc).isEmpty) return None
    vals.tail.foreach { v =>
      cmpMetric(dt, v, acc) match {
        case Some(c) => if ((wantMin && c < 0) || (!wantMin && c > 0)) acc = v
        case None => return None
      }
    }
    Some(acc)
  }

  /** Evaluate one aggregate over INLINE entries. Outer None = scan needed;
    * inner None = SQL NULL. Empty entry list answers count 0 / NULL. */
  private def evalAggInline(a: MetaAgg, files: Seq[DataFileEntry],
                            live: GraftSchema): Option[Option[String]] = a match {
    case MetaAgg.Count =>
      if (files.forall(_.recordCount >= 0))
        Some(Some(files.map(_.recordCount).sum.toString))
      else None
    case MetaAgg.CountCol(_) =>
      val field = aggField(a, live).getOrElse(return None)
      if (!files.forall(_.recordCount >= 0)) return None
      val per = files.map(f =>
        f.metrics.get(field.id).map(m => f.recordCount - m.nullCount))
      if (per.forall(_.isDefined)) Some(Some(per.flatten.sum.toString))
      else None
    case _ =>
      val field = aggField(a, live).getOrElse(return None)
      val perFile = files.map(_.metrics.get(field.id))
      if (!perFile.forall(_.isDefined)) return None
      val bounds = perFile.flatten.flatMap(m => m.min.zip(m.max))
      if (bounds.isEmpty) Some(None)
      else {
        val wantMin = a.isInstanceOf[MetaAgg.MinOf]
        foldBound(field.dataType, bounds.map(b => if (wantMin) b._1 else b._2),
          wantMin).map(Some(_))
      }
  }

  /** Evaluate one aggregate over manifest-GROUP stats (sharded path). */
  private def evalAggGroups(a: MetaAgg, groups: Seq[graft.meta.ManifestGroupStats],
                            live: GraftSchema): Option[Option[String]] = a match {
    case MetaAgg.Count =>
      if (groups.forall(_.rows >= 0))
        Some(Some(groups.map(_.rows).sum.toString))
      else None
    case MetaAgg.CountCol(_) =>
      // group stats only carry a field when EVERY member file did, so a
      // present nullCount is a complete sum over the group's rows
      val field = aggField(a, live).getOrElse(return None)
      if (!groups.forall(_.rows >= 0)) return None
      val per = groups.map(g =>
        g.metrics.get(field.id).map(m => g.rows - m.nullCount))
      if (per.forall(_.isDefined)) Some(Some(per.flatten.sum.toString))
      else None
    case _ =>
      val field = aggField(a, live).getOrElse(return None)
      val per = groups.map(_.metrics.get(field.id))
      if (!per.forall(_.isDefined)) return None
      val bounds = per.flatten.flatMap(m => m.min.zip(m.max))
      if (bounds.isEmpty) Some(None)
      else {
        val wantMin = a.isInstanceOf[MetaAgg.MinOf]
        foldBound(field.dataType, bounds.map(b => if (wantMin) b._1 else b._2),
          wantMin).map(Some(_))
      }
  }

  /** Merge the inline and group halves of one aggregate's answer. */
  private def mergeAgg(a: MetaAgg, x: Option[String], y: Option[String],
                       live: GraftSchema): Option[Option[String]] = a match {
    case MetaAgg.Count | MetaAgg.CountCol(_) =>
      Some(Some((x.map(_.toLong).getOrElse(0L) + y.map(_.toLong).getOrElse(0L))
        .toString))
    case _ =>
      val field = aggField(a, live).getOrElse(return None)
      val wantMin = a.isInstanceOf[MetaAgg.MinOf]
      (x, y) match {
        case (None, r) => Some(r)
        case (l, None) => Some(l)
        case (Some(l), Some(r)) =>
          foldBound(field.dataType, Seq(l, r), wantMin).map(Some(_))
      }
  }

  /** Metadata-only MIN/MAX for a column (Iceberg's aggregate pushdown for
    * MIN/MAX): when no delete file can apply to any selected file
    * (same rule as [[fastCount]]) AND every selected file carries metrics
    * for the column AND no file is all-NULL-ambiguous for the bound, the
    * answer folds the per-file [min, max] envelopes on the driver — zero
    * file I/O. Unlike record counts, the metrics are computed by this
    * writer from the actual rows (even the S2 lying-count file carries no
    * metrics and forces the scan), so the metadata path here is exact,
    * not trust-based. Missing metrics or possible deletes fall back to the
    * exact scan. Returns ((min, max), metadataOnly) as canonical metric
    * strings; None when the scope is empty or the column is all NULL. */
  def fastMinMax(spark: SparkSession, tableDir: String, colName: String,
                 partitionFilter: Map[String, Set[String]] = Map.empty)
      : (Option[(String, String)], Boolean) = {
    val st = SnapshotLog(tableDir).load().mainOnly
    val live = st.schema
    val field = live.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no column $colName in ${live.names}"))
    val files = planDataFiles(spark, st.dataFiles, live, partitionFilter, Map.empty)
    val deleteMayApply = st.deleteFiles.exists { d =>
      files.exists { f =>
        deleteScopeTouches(d, f) &&
          (if (d.kind == "eq") f.seq < d.seq else f.seq <= d.seq)
      }
    }
    val perFile = files.map(f => f.metrics.get(field.id))
    val metaSound = !deleteMayApply && perFile.forall(_.isDefined)
    if (metaSound) {
      // entries with min/max None are all-NULL files — they contribute
      // nothing to MIN/MAX (SQL aggregate NULL semantics)
      val bounds = perFile.flatten.flatMap(m => m.min.zip(m.max))
      if (bounds.isEmpty) (None, true)
      else {
        val best = bounds.reduce { (a, b) =>
          (if (cmpMetric(field.dataType, a._1, b._1).exists(_ <= 0)) a._1 else b._1,
            if (cmpMetric(field.dataType, a._2, b._2).exists(_ >= 0)) a._2 else b._2)
        }
        (Some(best), true)
      }
    } else {
      val partPred = partitionFilter.collect {
        case (k, vs) if live.names.contains(k) =>
          col(k).cast("string").isin(vs.toSeq: _*)
      }.foldLeft(lit(true))(_ && _)
      // aggregate in the column's NATIVE type (a lexical min over cast
      // strings would order "10" before "9"), then render canonically
      val r = withMeta(spark, st, live, partitionFilter).where(partPred)
        .agg(min(col(colName)).cast("string").as("mn"),
          max(col(colName)).cast("string").as("mx")).collect()(0)
      if (r.isNullAt(0)) (None, false)
      else (Some((r.getString(0), r.getString(1))), false)
    }
  }

  /** Row-count threshold at or below which [[readHinted]] adds a
    * broadcast hint from fresh ANALYZE stats. */
  val StatsBroadcastThresholdConf = "graft.stats.broadcastRowThreshold"
  val DefaultStatsBroadcastThreshold = 1000000L

  /** Read with a STATS-INFORMED broadcast hint. A MoR scan is a COMPOSED
    * plan (parquet scans + delete anti-joins), so Spark's size-based
    * broadcast detection sees the sum of the file sizes — it has no idea
    * the merged LIVE set is dimension-sized, and a 100-file dim table
    * with delete history ends up on the shuffle path of every join.
    * Persisted ANALYZE statistics know the live row count; when they are
    * FRESH (stats snapshot == head — stale counts could under-estimate a
    * since-grown table, an unsafe broadcast) and at most
    * [[StatsBroadcastThresholdConf]] rows, the read carries an explicit
    * broadcast hint and joins against it build a broadcast hash join.
    * No stats / stale stats / big tables read exactly like [[read]]. */
  def readHinted(spark: SparkSession, tableDir: String,
                 columns: Seq[String] = Nil): DataFrame = {
    val base = read(spark, tableDir)
    // project BEFORE hinting: Spark's hint resolution reads the join's
    // immediate child, so a projection layered on top of the hint would
    // silently drop it — column pruning is a parameter instead
    val df = if (columns.nonEmpty) base.select(columns.map(col): _*) else base
    val threshold = spark.conf.getOption(StatsBroadcastThresholdConf)
      .map(_.toLong).getOrElse(DefaultStatsBroadcastThreshold)
    TableStats.read(tableDir) match {
      case Some(s) if s.snapshotId == SnapshotLog(tableDir).lastSnapshotId &&
          s.rowCount <= threshold => broadcast(df)
      case _ => df
    }
  }

  /** Live rows plus Iceberg-v3 ROW LINEAGE: `_row_id` (stable identity —
    * assigned once at commit, preserved through compaction via
    * materialized columns, never reused by later appends) and
    * `_last_updated_seq` (the sequence number that produced the row).
    * Null lineage only on files written before the feature. The columns
    * an incremental consumer keys its downstream state on: a row's id
    * survives any rewrite, so re-syncs after compaction are no-ops. */
  def readLineage(spark: SparkSession, tableDir: String): DataFrame = {
    val st = SnapshotLog(tableDir).load().mainOnly
    val live = st.schema
    withMeta(spark, st, live, Map.empty)
      .select(live.names.map(col)
        :+ col(RowIdCol).as("_row_id")
        :+ col(LastSeqCol).as("_last_updated_seq"): _*)
  }

  /** Same as read but keeps (file_path, pos, seq) service columns. */
  def readWithMeta(spark: SparkSession, tableDir: String): DataFrame = {
    val st = SnapshotLog(tableDir).load().mainOnly
    withMeta(spark, st, st.schema, Map.empty)
  }

  /** Incremental append scan (the `appendsBetween` API of an Iceberg
    * `TableScan`): every row of every DATA file committed by a snapshot with
    * id in `(fromExclusive, toInclusive]`, projected to the schema as of
    * `toInclusive`. NO delete files are applied — this is the raw appended
    * row set (the Iceberg incremental-append contract); use
    * [[changelogBetween]] for the net insert/delete diff. Planning is pure
    * metadata: only the in-range files are ever opened, so an incremental
    * consumer of a million-file table plans against the handful of new
    * files, never the full history. REWRITE snapshots (compaction — they
    * carry removed-file lists) are skipped entirely, exactly like Iceberg's
    * incremental append scan: their added files re-express pre-existing
    * rows, not appends. Appended files a later in-range compaction
    * rewrote are still read from their ORIGINAL paths (compaction keeps
    * them on disk for time travel; [[graft.table.GraftTableGenerator
    * .expireSnapshots]] is the operation that finally deletes them, and
    * with them the expired incremental window — Iceberg semantics). */
  def appendsBetween(spark: SparkSession, tableDir: String,
                     fromExclusive: Long, toInclusive: Long): DataFrame = {
    val st = SnapshotLog(tableDir).load().mainOnly.asOf(toInclusive)
    val live = st.schema
    // rewrites are identified by the snapshot's EXPLICIT operation (the
    // writer stamps it at commit) — never by sniffing removed-file lists,
    // so a rewrite that happened to remove nothing still classifies right
    val inc = st.copy(snapshots = st.snapshots.map { s =>
      val rewrite = s.operation == "replace"
      if (s.id > fromExclusive && !rewrite)
        s.copy(deleteFiles = Nil, removedDataFiles = Nil, removedDeleteFiles = Nil)
      else s.copy(dataFiles = Nil, deleteFiles = Nil,
        removedDataFiles = Nil, removedDeleteFiles = Nil)
    })
    withMeta(spark, inc, live, Map.empty).select(live.names.map(col): _*)
  }

  /** Resolve a wall-clock instant to the newest snapshot committed at or
    * before it (0 = before all history). */
  private def snapAtTime(st: TableState, tsMs: Long): Long =
    st.snapshots.filter(_.timestampMs <= tsMs).lastOption.map(_.id).getOrElse(0L)

  /** [[appendsBetween]] with a WALL-CLOCK window — the hourly-sync
    * consumer's natural API: endpoints resolve to snapshot ids through the
    * writer-stamped `timestampMs` (newest snapshot at or before each
    * instant; a `fromTs` before all history starts from the beginning),
    * then the scan is the ordinary id-windowed incremental plan. */
  def appendsBetweenTimes(spark: SparkSession, tableDir: String,
                          fromTsExclusive: Long, toTsInclusive: Long): DataFrame = {
    val st = SnapshotLog(tableDir).load().mainOnly
    appendsBetween(spark, tableDir,
      snapAtTime(st, fromTsExclusive), snapAtTime(st, toTsInclusive))
  }

  /** [[changelogBetween]] with a wall-clock window (same endpoint
    * resolution as [[appendsBetweenTimes]]). */
  def changelogBetweenTimes(spark: SparkSession, tableDir: String,
                            fromTsExclusive: Long, toTsInclusive: Long): DataFrame = {
    val st = SnapshotLog(tableDir).load().mainOnly
    changelogBetween(spark, tableDir,
      snapAtTime(st, fromTsExclusive), snapAtTime(st, toTsInclusive))
  }

  /** CDC changelog between two snapshots: the net row-level diff of the
    * live sets, as `change_kind ∈ {insert, delete}` plus the full row
    * (schema as of `toInclusive`).
    *
    * The diff keys on the stable ROW LINEAGE id `_row_id`, which every
    * committed file carries:
    *   - `insert`: row ids are MONOTONE and never reused, so the inserts
    *     are exactly the live rows at `to` with `_row_id >=` the table's
    *     row-id counter at `from` (one metadata constant) — a single
    *     filtered scan of the `to` state, no diff join at all.
    *   - `delete`: rows live at `from` whose id is absent from the live
    *     set at `to` — an anti-join on one long key. Because the id
    *     survives rewrites, a delete committed AFTER a compaction inside
    *     the window is correctly reported (its tombstones reference the
    *     compacted file, but the row's identity is unchanged), and the
    *     compaction itself produces no events.
    *
    * At 100 TB the common incremental consumer (hourly sync) diffs a range
    * holding a few files; the legs plan against the two live sets, never
    * twice the table. REWRITE snapshots (compaction) inside the range are
    * logical no-ops and produce NO changelog events (Iceberg's changelog
    * contract); original files stay on disk until snapshot expiry, which
    * also expires the changelog window. */
  def changelogBetween(spark: SparkSession, tableDir: String,
                       fromExclusive: Long, toInclusive: Long): DataFrame =
    changelogBetween(spark, tableDir, fromExclusive, toInclusive,
      withLineage = false)

  /** As [[changelogBetween]]; `withLineage = true` appends `_row_id`
    * (Iceberg-v3 row lineage) — the STABLE CDC key: the same row reports
    * the same id in its insert and its later delete event, across any
    * compaction in between, so downstream state can key on it instead of
    * the rewrite-sensitive (path, pos) pair. */
  def changelogBetween(spark: SparkSession, tableDir: String,
                       fromExclusive: Long, toInclusive: Long,
                       withLineage: Boolean): DataFrame = {
    val st = SnapshotLog(tableDir).load().mainOnly
    val stTo = st.asOf(toInclusive)
    val stFrom = st.asOf(fromExclusive)
    val live = stTo.schema
    // row-id diff: exact under any interleaving of rewrites and deletes,
    // because identity survives the rewrite
    val fromNextRowId = (0L +: stFrom.snapshots.map(_.nextRowId)).max
    val pre = withMeta(spark, stFrom, live, Map.empty)
    val post = withMeta(spark, stTo, live, Map.empty)
    val inserts = post.where(col(RowIdCol) >= fromNextRowId)
    val deletes = pre.join(post.select(col(RowIdCol)), Seq(RowIdCol), "left_anti")
    val tail: Seq[Column] =
      if (withLineage) Seq(col(RowIdCol).as("_row_id")) else Nil
    inserts.withColumn("change_kind", lit("insert"))
      .unionByName(deletes.withColumn("change_kind", lit("delete")))
      .select(col("change_kind") +: live.names.map(col) ++: tail: _*)
  }

  private def matchesPartition(p: Map[String, String],
                               f: Map[String, Set[String]]): Boolean =
    f.forall { case (k, vs) => p.get(k).forall(vs.contains) }

  /** Per-file keep test for POINT probes (IN-sets / equality): per value,
    * the metrics envelope AND the manifest Bloom filter, PLUS hidden-
    * partition pruning — each file's own spec epoch maps the probe values
    * through its transform (bucket/truncate/day/...) and requires the
    * file's partition value to match one. What makes a point lookup on a
    * bucket(n, col) table open 1/n of the files. Missing stats/spec/
    * partName keep the file — never unsound. Shared by the read planner
    * and the pruned DML scans. */
  private[graft] def pointValuesKeep(spark: SparkSession,
                                     specs: Map[Int, Seq[String]],
                                     live: GraftSchema,
                                     pointValues: Map[String, Set[String]])
      : DataFileEntry => Boolean =
    if (pointValues.isEmpty) _ => true
    else {
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      // each probe as the row predicate compares it; a probe that does not
      // cast cleanly (None) keeps every file
      val probes = pointValues.toSeq.flatMap { case (c, values) =>
        live.fields.find(_.name == c).map(field =>
          field -> values.toSeq.map(v => probeBound(v, field.dataType, tz)))
      }
      f => probes.forall { case (field, ps) =>
        val statsOk = f.metrics.get(field.id).forall { m =>
          ps.exists(_.forall { v =>
            val envOk = (m.min, m.max) match {
              case (Some(mn), Some(mx)) =>
                cmpMetric(field.dataType, mx, v).forall(_ >= 0) &&
                  cmpMetric(field.dataType, mn, v).forall(_ <= 0)
              case _ => false // all-NULL column: no value can match
            }
            envOk && m.bloom.forall(b =>
              graft.meta.BloomFilter.mightContain(b, v))
          })
        }
        val partOk = specs.get(f.specId).forall { specStrs =>
          specStrs.map(graft.meta.PartitionTransform.parse)
            .find(_.source == field.name).forall { t =>
              f.partition.get(t.partName).forall { pv =>
                // a probe the transform cannot map keeps the file
                ps.exists(_.forall(v =>
                  scala.util.Try(t.apply(v, field.dataType))
                    .getOrElse(None).forall(_ == pv)))
              }
            }
        }
        statsOk && partOk
      }
    }

  /** A point probe as the row predicate sees it — cast to the column's
    * type — rendered the way the writer renders bounds (session time
    * zone); None when it does not cast cleanly. Compared raw, a probe
    * `2024-01-05` on a timestamp column misses the bound
    * `2024-01-05 00:00:00` of the row it matches. */
  private[graft] def probeBound(v: String, dt: DataType, tz: String): Option[String] =
    scala.util.Try(Cast(Cast(Literal(v), dt, Some(tz)), StringType, Some(tz)).eval())
      .toOption.flatMap(Option(_)).map(_.toString)

  /** May file `f` hold rows matching the extracted predicates? The single
    * entry-level pruning test (partition tuple + metric envelopes +
    * manifest blooms) exposed for WRITE-path planners — the SQL DELETE/
    * UPDATE fast path prunes its matching scan with exactly the SELECT
    * path's logic (sound: a pruned file provably holds no matching row,
    * so it needs no tombstones and contributes no updated rows). */
  private[graft] def entryMatches(f: DataFileEntry, live: GraftSchema,
                                  partitionFilter: Map[String, Set[String]],
                                  ranges: Map[String, ColRange]): Boolean =
    matchesPartition(f.partition, partitionFilter) &&
      matchesRanges(f, live, ranges)

  /** Type-aware comparison of canonical metric strings: numerics through
    * BigDecimal (so "1.0E-4" vs "0.01" compares right), everything else
    * lexically (ISO dates, fixed-format timestamps, booleans all sort
    * correctly as strings). */
  /** Numeric compare via BigDecimal; `None` when either side is not a
    * plain decimal rendering (NaN/Infinity from a float column — Spark
    * casts them to those literal strings). Callers must treat None as
    * "cannot prune" — skipping a file on an unparseable stat is unsound. */
  private[graft] def cmpMetric(dt: DataType, a: String, b: String): Option[Int] = dt match {
    case _: NumericType =>
      try Some(new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)))
      catch { case _: NumberFormatException => None }
    case _ => Some(a.compareTo(b))
  }

  /** May any row of file `f` satisfy every range? Missing stats keep the
    * file (never unsound); present stats with no min/max mean the column is
    * ALL NULL in the file, and null never satisfies a range predicate.
    * An EQUALITY range (`lo == hi`) additionally probes the entry's
    * manifest-level Bloom filter when one was written
    * ([[graft.table.GraftTableGenerator.withBloomFilters]]): a definite
    * miss prunes the file even when its min/max envelope overlaps — the
    * scattered-high-cardinality case where range stats keep everything.
    * False positives only, so pruning stays sound; files without a bloom
    * fall back to the envelope test. */
  private def matchesRanges(f: DataFileEntry, live: GraftSchema,
                            ranges: Map[String, ColRange]): Boolean =
    ranges.forall { case (k, r) =>
      live.fields.find(_.name == k).forall { field =>
        f.metrics.get(field.id).forall { m =>
          if (r.needNull) m.nullCount != 0 // IS NULL: a file with zero
            // recorded nulls cannot produce a null row (bounds, if any,
            // came from a contradictory conjunction — row-level empties it)
          else {
            val envelope = (m.min, m.max) match {
              case (Some(mn), Some(mx)) =>
                r.lo.forall(lo => cmpMetric(field.dataType, mx, lo).forall(_ >= 0)) &&
                  r.hi.forall(hi => cmpMetric(field.dataType, mn, hi).forall(_ <= 0))
              case _ => false
            }
            val bloomPass = (r.lo, r.hi, m.bloom) match {
              case (Some(lo), Some(hi), Some(b)) if lo == hi =>
                graft.meta.BloomFilter.mightContain(b, lo)
              case _ => true
            }
            envelope && bloomPass
          }
        }
      }
    }

  /** Plan-time data-file selection (partition + metrics/bloom pruning).
    * Below the threshold: the driver loop (metadata-scale, zero job
    * latency). Above it: the entries are split into manifest groups of
    * [[ManifestGroupSize]] and each group's predicates evaluate in one
    * task of a Spark job — the selection is IDENTICAL (same pure
    * predicates, order restored by original position), only the evaluation
    * moves off the single driver thread. `fileKeep` closures (IN-set
    * probes) stay driver-side on the survivors: after pruning they see the
    * small end of the funnel, and keeping them out of the job keeps the
    * distributed closure free of caller-captured state. */
  private[graft] def planDataFiles(spark: SparkSession,
                                   entries: Seq[DataFileEntry],
                                   live: GraftSchema,
                                   partitionFilter: Map[String, Set[String]],
                                   ranges: Map[String, ColRange]): Seq[DataFileEntry] = {
    val threshold =
      try spark.conf.get(DistributedPlanThresholdConf,
        DefaultDistributedPlanThreshold.toString).toInt
      catch { case _: NumberFormatException => DefaultDistributedPlanThreshold }
    if (entries.size <= threshold)
      entries.filter(f =>
        matchesPartition(f.partition, partitionFilter) &&
          matchesRanges(f, live, ranges))
    else {
      distributedPlans.incrementAndGet()
      // stable (groupIdx, posInGroup) keys restore manifest order after the
      // unordered collect — scan-task grouping downstream relies on it
      val groups = entries.grouped(ManifestGroupSize).zipWithIndex
        .map { case (g, gi) => (gi, g.toArray) }.toSeq
      val pf = partitionFilter
      val rg = ranges
      val lv = live
      spark.sparkContext
        .parallelize(groups, groups.size)
        .flatMap { case (gi, g) =>
          g.iterator.zipWithIndex.collect {
            case (f, i) if matchesPartition(f.partition, pf) &&
              matchesRanges(f, lv, rg) => ((gi, i), f)
          }
        }
        .collect().sortBy(_._1).map(_._2).toSeq
    }
  }

  /** Outline planning: per-file predicates over UNMATERIALIZED manifest
    * groups. Inline entries (non-sharded snapshots) filter on the driver;
    * each sharded group file is read + filtered inside ONE Spark task
    * ([[graft.meta.SnapshotLog.readDataManifestFile]] — a pure function of
    * (metaDir, groupName), which on a real cluster is shared storage).
    * Selection is IDENTICAL to the eager path: same predicates, same
    * removed-path set (broadcast), order restored by (snapshot, group,
    * position) keys. Driver memory: group names + survivors. */
  private[graft] def planDataFilesOutline(spark: SparkSession,
                                          o: graft.meta.OutlineState,
                                          live: GraftSchema,
                                          partitionFilter: Map[String, Set[String]],
                                          ranges: Map[String, ColRange])
      : Seq[DataFileEntry] = {
    val removed = o.removedDataPaths
    val keepInline = o.outlines.zipWithIndex.flatMap { case (out, si) =>
      out.snapshot.dataFiles.zipWithIndex.collect {
        case (f, i) if !removed(f.path) &&
          matchesPartition(f.partition, partitionFilter) &&
          matchesRanges(f, live, ranges) => ((si, 0, i), f)
      }
    }
    val groupTasks = o.outlines.zipWithIndex.flatMap { case (out, si) =>
      out.dataManifests.zipWithIndex.map { case (name, gi) => (si, gi, name) }
    }
    val fromGroups: Seq[((Int, Int, Int), DataFileEntry)] =
      if (groupTasks.isEmpty) Nil
      else {
        distributedPlans.incrementAndGet()
        val removedB = spark.sparkContext.broadcast(removed)
        val metaDir = o.metaDir
        val pf = partitionFilter
        val rg = ranges
        val lv = live
        spark.sparkContext.parallelize(groupTasks, groupTasks.size)
          .flatMap { case (si, gi, name) =>
            graft.meta.SnapshotLog.readDataManifestFile(metaDir, name)
              .iterator.zipWithIndex.collect {
                case (f, i) if !removedB.value(f.path) &&
                  matchesPartition(f.partition, pf) &&
                  matchesRanges(f, lv, rg) => ((si, gi, i), f)
              }
          }.collect().toSeq
      }
    (keepInline ++ fromGroups).sortBy(_._1).map(_._2).distinctBy(_.path)
  }

  private[graft] def withMeta(spark: SparkSession, st: TableState, live: GraftSchema,
                              partitionFilter: Map[String, Set[String]],
                              ranges: Map[String, ColRange] = Map.empty,
                              fileKeep: DataFileEntry => Boolean = _ => true,
                              pointValues: Map[String, Set[String]] = Map.empty): DataFrame = {
    val dataFiles =
      planDataFiles(spark, st.dataFiles, live, partitionFilter, ranges)
        .filter(fileKeep)
    dataFilesPlanned.addAndGet(dataFiles.size)
    if (dataFiles.isEmpty) {
      val struct = StructType(live.struct.fields ++ Seq(
        StructField(FilePathCol, StringType), StructField(PosCol, LongType),
        StructField(SeqCol, LongType), StructField(RowIdCol, LongType),
        StructField(LastSeqCol, LongType)))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], struct)
    }

    // ---- delete-file pruning (the delete-manifest analog of data-file
    // metrics pruning): sound skips only — a file without stats is kept.
    // On an S9-shaped table (100 delete commits) a pruned scan applies the
    // one or two delete files that can intersect it, not all 100.
    def fieldTypeById(fid: Int): DataType =
      live.fields.find(_.id == fid).map(_.dataType)
        .orElse(st.schemas.toSeq.sortBy(-_._1)
          .flatMap(_._2.fieldById(fid)).headOption.map(_.dataType))
        .getOrElse(StringType)
    val minDataSeq = dataFiles.map(_.seq).min
    val dataPathsSorted = dataFiles.map(_.path).sorted.toIndexedSeq
    def anyDataPathIn(lo: String, hi: String): Boolean = {
      import scala.collection.Searching._
      val i = dataPathsSorted.search(lo) match {
        case Found(j) => j
        case InsertionPoint(j) => j
      }
      i < dataPathsSorted.length && dataPathsSorted(i) <= hi
    }
    // [aLo, aHi] provably outside [bLo, bHi] (None = unbounded / unknown)?
    def disjoint(dt: DataType, aLo: String, aHi: String,
                 bLo: Option[String], bHi: Option[String]): Boolean =
      bHi.exists(h => cmpMetric(dt, aLo, h).exists(_ > 0)) ||
        bLo.exists(l => cmpMetric(dt, aHi, l).exists(_ < 0))
    // Union of the surviving files' recorded bounds for a field:
    // None = unknown (some file lacks the stat — cannot prune on it);
    // Some(None) = every surviving file is ALL NULL on the field (no row
    // can match a non-null equality key); Some(Some((lo, hi))) = bounds.
    def dataEnvelope(fid: Int, dt: DataType): Option[Option[(String, String)]] = {
      val ms = dataFiles.map(_.metrics.get(fid))
      if (ms.exists(_.isEmpty)) return None
      val bounds = ms.flatten.flatMap(m => m.min.zip(m.max))
      if (bounds.isEmpty) return Some(None)
      var (lo, hi) = bounds.head
      for ((l, h) <- bounds.tail) {
        cmpMetric(dt, l, lo) match {
          case Some(c) => if (c < 0) lo = l
          case None => return None // unparseable stat (NaN) → unknown
        }
        cmpMetric(dt, h, hi) match {
          case Some(c) => if (c > 0) hi = h
          case None => return None
        }
      }
      Some(Some((lo, hi)))
    }
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    // An eq-delete file is skippable if ANY key field proves no scanned
    // row can match: keys all null, or the file's recorded key range is
    // disjoint from the scan's range predicate on that column, from every
    // point probe on it, or from the surviving files' recorded bounds.
    def eqFilePrunable(f: DeleteFileEntry): Boolean =
      f.equalityIds.exists { fid =>
        f.metrics.get(fid).exists { m =>
          (m.min, m.max) match {
            case (Some(dlo), Some(dhi)) =>
              val dt = fieldTypeById(fid)
              val name = live.fields.find(_.id == fid).map(_.name)
              val vsRange = name.flatMap(ranges.get)
                .exists(r => disjoint(dt, dlo, dhi, r.lo, r.hi))
              val vsProbes = name.flatMap(pointValues.get).exists(vs =>
                vs.nonEmpty && vs.forall(v => probeBound(v, dt, tz)
                  .exists(b => disjoint(dt, dlo, dhi, Some(b), Some(b)))))
              val vsEnvelope = dataEnvelope(fid, dt) match {
                case Some(None) => true
                case Some(Some((elo, ehi))) =>
                  disjoint(dt, dlo, dhi, Some(elo), Some(ehi))
                case None => false
              }
              vsRange || vsProbes || vsEnvelope
            case _ => true // delete keys ALL NULL: equality matches nothing
          }
        }
      }
    // A pos-delete file is skippable if its referenced-path bounds touch
    // none of the surviving data files (binary search over sorted paths).
    def posFilePrunable(f: DeleteFileEntry): Boolean =
      f.metrics.get(DeleteFileEntry.PathFieldId).exists { m =>
        (m.min, m.max) match {
          case (Some(lo), Some(hi)) => !anyDataPathIn(lo, hi)
          case _ => true // empty delete file references nothing
        }
      }
    // A partition-scoped delete file reaches only rows of its own tuple.
    // When every surviving data file is partitioned on the delete file's
    // fields (the same spec — a delete entry records its tuple, not its
    // spec id) and none has its tuple, it reaches no scanned row. Global-
    // scope files stay, and so does every file when the scan mixes specs
    // (an identity scope matches a row by value, in any spec's file).
    val dataTuples = dataFiles.map(_.partition).toSet
    val dataKeySets = dataTuples.map(_.keySet)
    def scopeMissed(f: DeleteFileEntry): Boolean =
      f.partition.nonEmpty && dataKeySets == Set(f.partition.keySet) &&
        !dataTuples(f.partition)
    val deleteFiles = st.deleteFiles
      .filter(f => matchesPartition(f.partition, partitionFilter))
      .filterNot(scopeMissed)
      .filterNot { f =>
        if (f.kind == "eq")
          f.seq <= minDataSeq || // strict visibility: needs seq > some data seq
            eqFilePrunable(f)
        else
          f.seq < minDataSeq || // pos deletes apply to data.seq <= delete.seq
            posFilePrunable(f)
      }
    deleteFilesPlanned.addAndGet(deleteFiles.size)

    // Equality-delete keys resolve by FIELD ID; a key field dropped from the
    // live schema (S11) is still projected — under a synthetic name — so the
    // delete keeps applying to old rows. Resolution uses the newest schema
    // version that carries the id.
    val liveIds = live.fields.map(_.id).toSet
    val extraKeyFields: Seq[(Int, graft.schema.GraftField)] =
      deleteFiles.filter(_.kind == "eq").flatMap(_.equalityIds)
        .distinct.filterNot(liveIds).sorted.flatMap { kid =>
          st.schemas.toSeq.sortBy(-_._1).flatMap(_._2.fieldById(kid)).headOption
            .map(f => kid -> f)
        }
    def keyDataCol(kid: Int): String =
      live.fields.find(_.id == kid).map(_.name).getOrElse(s"_gk$kid")

    // ---- data scan, one branch per (schema epoch × lineage shape),
    // projected by field id -------------------------------------------------
    val scan = dataFiles.groupBy(f => (f.schemaV, f.lineageInFile)).toSeq
      .sortBy(_._1).map { case ((v, lin), files) =>
      val epoch = st.schemas(v)
      // a field id absent from the file's epoch reads its INITIAL DEFAULT
      // (Iceberg v3) when the live field declares one, else null; files
      // written after the add carry real values, so later nulls stay null
      def resolve(f: graft.schema.GraftField, as: String): Column =
        epoch.fieldById(f.id) match {
          case Some(old) => col(old.name).cast(f.dataType).as(as)
          case None => f.initialDefault
            .map(d => lit(d).cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType)).as(as)
        }
      val proj: Seq[Column] =
        live.fields.map(f => resolve(f, f.name)) ++
          extraKeyFields.map { case (kid, f) => resolve(f.copy(id = kid), s"_gk$kid") }
      // rewritten (compacted) files carry their rows' ORIGINAL row ids and
      // last-updated seqs as physical columns — read them back; plain
      // files derive both from the manifest by the seq lookup below
      val readSchema =
        if (lin) StructType(epoch.struct.fields ++ Seq(
          StructField(RowIdCol, LongType), StructField(LastSeqCol, LongType)))
        else epoch.struct
      val lineage: Seq[Column] =
        if (lin) Seq(col(RowIdCol), col(LastSeqCol))
        else Seq(lit(null).cast(LongType).as(RowIdCol),
          lit(null).cast(LongType).as(LastSeqCol))
      spark.read.schema(readSchema).parquet(files.map(_.path): _*)
        .select(proj ++ lineage
          :+ normPath(col("_metadata.file_path")).as(FilePathCol)
          :+ col("_metadata.row_index").as(PosCol): _*)
    }.reduce(_.unionByName(_))

    // file → sequence number and first row id, stamped in-row from the
    // planned entries (row id = firstRowId + position, Iceberg v3; a
    // compacted file has no firstRowId and carries its ids in-file)
    val seqOf = FileConsts.longs(dataFiles.map(f => f.path -> f.seq))
    val firstRowIdOf = FileConsts.longs(
      dataFiles.filter(_.firstRowId >= 0).map(f => f.path -> f.firstRowId))
    var data = scan
      .withColumn(SeqCol, coalesce(seqOf(col(FilePathCol)), lit(0L)))
      .withColumn(RowIdCol, coalesce(col(RowIdCol),
        firstRowIdOf(col(FilePathCol)) + col(PosCol)))
      .withColumn(LastSeqCol, coalesce(col(LastSeqCol), col(SeqCol)))

    // ---- positional deletes: anti-join on (path, pos) -------------------
    // ONE scan over all pos-delete files (S9 has 100 of them — a per-file
    // or per-seq union would put 100 branches in the plan); each delete
    // row reads its file's sequence number from an in-row path → seq lookup.
    val posFiles = deleteFiles.filter(_.kind == "pos")
    if (posFiles.nonEmpty) {
      val posSeqOf = FileConsts.longs(posFiles.map(f => f.path -> f.seq))
      val dels = spark.read
        .schema(StructType(Seq(StructField("file_path", StringType),
          StructField("pos", LongType))))
        .parquet(posFiles.map(_.path): _*)
        .select(col("file_path").as("_d_fp"), col("pos").as("_d_pos"),
          posSeqOf(normPath(col("_metadata.file_path"))).as("_d_seq"))
      data = data.join(dels,
        col(FilePathCol) === col("_d_fp") && col(PosCol) === col("_d_pos") &&
          col("_d_seq") >= col(SeqCol),
        "left_anti")
    }

    // ---- deletion vectors (Iceberg v3): per-file position bitmaps -------
    // The build side is one (file_path, bitset) row per referenced data
    // FILE — not one row per deleted row like the tombstone anti-join —
    // so applying a billion deletes is a broadcast-size join plus a
    // codegen'd shift-and-mask per scanned row. Sequence numbers don't
    // participate: a vector addresses files by PATH, paths are never
    // reused, and files appended after the fold can't appear in one.
    // Row uniqueness per file_path is a WRITER invariant (each fold
    // consumes all pos+dv entries of its partition), so the left join
    // multiplies nothing.
    val dvFiles = deleteFiles.filter(_.kind == "dv")
    if (dvFiles.nonEmpty) {
      val raw = spark.read
        .schema(StructType(Seq(StructField("file_path", StringType),
          StructField("words", ArrayType(LongType)),
          StructField("cardinality", LongType))))
        .parquet(dvFiles.map(_.path): _*)
        .select(col("file_path").as("_dv_fp"), col("words").as("_dv_w"))
      // Writers keep at most one vector per partition, so per-file rows
      // are normally unique and the fast path joins directly. Time-travel
      // WINDOWED states can legitimately see two generations of a
      // partition's vector at once (a stripped-removals changelog view) —
      // only then pay an OR-merge so the left join can't duplicate rows.
      val dvs =
        if (dvFiles.groupBy(_.partition).forall(_._2.size <= 1)) raw
        else raw
          .select(col("_dv_fp"), posexplode(col("_dv_w")).as(Seq("_i", "_w")))
          .groupBy("_dv_fp", "_i").agg(expr("bit_or(_w)").as("_w"))
          .groupBy("_dv_fp")
          .agg(expr("transform(array_sort(collect_list(struct(_i, _w))), x -> x._w)")
            .as("_dv_w"))
      val wordIdx = (shiftright(col(PosCol), 6) + 1).cast("int")
      // `when` guards the ANSI element_at bound; positions past the
      // bitmap's last word are alive by construction (trimmed vector)
      val word = when(col("_dv_w").isNotNull && wordIdx <= size(col("_dv_w")),
        element_at(col("_dv_w"), wordIdx)).otherwise(lit(0L))
      val bitIdx = col(PosCol).bitwiseAND(lit(63L)).cast("int")
      // EXPLICIT broadcast under a PAYLOAD bound: the build side is one
      // row per data FILE, but Spark's size-based detection reads the
      // delete files' on-disk size and can silently degrade this to a
      // SortMergeJoin that shuffles the entire fact scan on file_path —
      // the scale-killer DVs exist to avoid. The real broadcast payload is
      // the bitmap words (rows/64 longs per referenced file), so the bound
      // estimates BYTES from the scoped data files' record counts — a
      // file-count bound alone would happily broadcast a few thousand
      // vectors over billion-row files past the 8 GB exchange limit.
      // Unknown record counts estimate at the bound (never force a bad
      // broadcast); beyond it, size-based planning decides.
      val estDvBytes = dataFiles
        .filter(f => dvFiles.exists(d => deleteScopeTouches(d, f)))
        .map(f => if (f.recordCount >= 0) f.recordCount / 8 + 64
                  else DvBroadcastMaxBytes)
        .sum
      val dvSide =
        if (dvFiles.size <= DvBroadcastFileBound &&
            estDvBytes < DvBroadcastMaxBytes) broadcast(dvs) else dvs
      data = data.join(dvSide, col(FilePathCol) === col("_dv_fp"), "left")
        .where(call_function("shiftright", word, bitIdx)
          .bitwiseAND(lit(1L)) === lit(0L))
        .drop("_dv_fp", "_dv_w")
    }

    // ---- equality deletes: per key-set anti-join with strict seq ---------
    // ONE multi-path scan per key set: eq-delete files carry canonical
    // `_dk<fieldId>` key columns written at delete time (field ids are
    // stable across schema epochs; the log refuses an entry without
    // `keyColsWritten`, so no file lacks them), so 100 delete commits on
    // the same keys are 1 FileScan, not 100 plan branches. Each delete row
    // reads its file's sequence number and partition scope from in-row
    // path lookups — the exact shape of the pos-delete path.
    val eqFiles = deleteFiles.filter(_.kind == "eq")
    eqFiles.groupBy(_.equalityIds.sorted).toSeq.sortBy(_._1.mkString(",")).foreach {
      case (keyIds, fs) =>
        val partCols = fs.flatMap(_.partition.keys).distinct.sorted
        val delSchema = StructType(keyIds.map(kid =>
          StructField(s"_dk$kid", fieldTypeById(kid))))
        val src = col("_d_src0")
        val eqSeqOf = FileConsts.longs(fs.map(f => f.path -> f.seq))
        val dels = spark.read.schema(delSchema).parquet(fs.map(_.path): _*)
          .withColumn("_d_src0", normPath(col("_metadata.file_path")))
          .select(keyIds.map(kid => col(s"_dk$kid")) ++
            (eqSeqOf(src).as("_d_seq") +: partCols.map(p =>
              FileConsts.strings(fs.flatMap(f => f.partition.get(p).map(f.path -> _)))(src)
                .as(s"_dp_$p"))): _*)
        // Partition-scope condition. Identity scopes (the partition key IS
        // a data column) compare ROW values — a pre-evolution file's rows
        // still match a later scoped delete by value. Hidden-transform
        // scopes (`id_bucket` etc. — graft.meta.PartitionTransform) have
        // no data column; the scope is the data FILE's registered
        // partition value, read from the log per path (in-row lookup).
        val fileScope = partCols.filterNot(live.names.contains)
        val dataJ = fileScope.foldLeft(data) { (d, p) =>
          d.withColumn(s"_fp_$p", FileConsts.strings(
            dataFiles.flatMap(f => f.partition.get(p).map(f.path -> _)))(col(FilePathCol)))
        }
        val keyCond = keyIds.map(kid => dataJ(keyDataCol(kid)) === dels(s"_dk$kid"))
          .reduce(_ && _)
        val partCond = partCols.map { p =>
          if (live.names.contains(p)) {
            val t = live.fields.find(_.name == p).map(_.dataType).getOrElse(StringType)
            dels(s"_dp_$p").isNull || dels(s"_dp_$p").cast(t) === dataJ(p)
          } else
            dels(s"_dp_$p").isNull || dels(s"_dp_$p") === dataJ(s"_fp_$p")
        }.foldLeft(lit(true))(_ && _)
        data = dataJ.join(dels,
          keyCond && partCond && dels("_d_seq") > dataJ(SeqCol), "left_anti")
          .drop(fileScope.map(p => s"_fp_$p"): _*)
    }

    data.drop(extraKeyFields.map(kf => s"_gk${kf._1}"): _*)
  }
}
