package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gen.{RecordBundle, ValueGen}
import graft.meta._
import graft.read.{FileConsts, MorReader}
import graft.schema.{GraftField, GraftSchema}

/** Fluent table-building engine — the Spark-native re-expression of the
  * reference's `IcebergTableGenerator` (reference
  * `IcebergTableGenerator.java:61-485`): create / append / appendEmptyFile /
  * positionalDelete / equalityDelete / updateSpec / updateSchema / commit,
  * over a plain-Parquet warehouse plus a self-written snapshot log (no
  * Iceberg jar exists in this environment — SURVEY.md §0.1).
  *
  * Layout mirrors the reference so warehouses are diff-able
  * (`IcebergTableGenerator.java:103-146,207-222,381-395`):
  *   - `<warehouse>/<table>/data/<value>/<value>-NN.parquet` (partitioned)
  *   - `<warehouse>/<table>/data/NN.parquet` (unpartitioned)
  *   - `delete-<part>-NN.parquet` / `eqdelete-<part>-NN.parquet`
  *   - `<warehouse>/<table>/metadata/` snapshot log
  *
  * Determinism: values are pure functions of (row id, seed, column tag) —
  * see [[graft.gen.ValueGen]] — and row ids are globally monotonic across
  * appends (`idStart` threading), matching the reference's id counter
  * semantics (`ValueGenerator.java:28-30`).
  */
final class GraftTableGenerator(
    spark: SparkSession,
    warehouse: String,
    name: String,
    seed: Long = ValueGen.DefaultSeed,
    clock: () => Long = () => System.currentTimeMillis()) {

  val tableDir: Path = Paths.get(warehouse, name)
  private val dataDir: Path = tableDir.resolve("data")
  private val log = new SnapshotLog(tableDir)

  private var schema: GraftSchema = _
  private var schemaV: Int = 0
  private var partitionCols: Seq[String] = Nil
  private var specId: Int = 0
  private var props: Map[String, String] = Map.empty
  private var nextId: Long = 0L

  // transaction state (reference `IcebergTableGenerator.java:367-379`)
  private var committedSeq: Long = 0L
  private var committedSnapId: Long = 0L
  private var stagedOps: Int = 0
  private var stagedData: Vector[DataFileEntry] = Vector.empty
  private var stagedDeletes: Vector[DeleteFileEntry] = Vector.empty
  private var vectorDeleteMode: Boolean = false
  private var sortOrderCols: Seq[String] = Nil
  private var stagedRemovedData: Vector[String] = Vector.empty
  private var stagedRemovedDeletes: Vector[String] = Vector.empty
  // one snapshot has exactly ONE operation: user writes (append/delete/
  // upsert) and rewrites (compaction) may not share a transaction — a
  // mixed snapshot would make incremental scans silently drop the
  // genuine appends (an Iceberg snapshot likewise carries one operation)
  private var stagedHasUserWrite = false
  private var stagedHasRewrite = false
  // commits route to this lineage; snapshot ids stay globally allocated
  private var activeBranch: String = "main"

  /** The active lineage's view of a loaded state: main-only, or the fork
    * prefix plus the branch's own commits ([[graft.meta.TableState]]). */
  private def lineage(st: graft.meta.TableState): graft.meta.TableState =
    if (activeBranch == "main") st.mainOnly
    else st.onBranch(activeBranch, branchForkId(activeBranch))

  private var created = false

  // columns whose per-file metrics carry a manifest-level Bloom filter
  // ([[graft.meta.BloomFilter]]); writer-local config — the bitsets land
  // on the file entries themselves, so readers need no setting
  private var bloomCols: Set[String] = Set.empty

  /** Enable manifest-level Bloom filters for `cols` on every data file
    * written from now on (the Iceberg `write.parquet.bloom-filter-enabled
    * .column.<col>` analog, kept on the MANIFEST entry so the planner
    * tests membership with zero file I/O). Equality reads
    * ([[graft.read.MorReader.readRange]] with `lo == hi`) then skip files
    * that provably lack the value even when min/max envelopes overlap —
    * the high-cardinality-scattered-values case where range stats prune
    * nothing. Unsupported column types ([[graft.meta.BloomFilter
    * .supported]]) are ignored. */
  def withBloomFilters(cols: String*): this.type = {
    bloomCols ++= cols; this
  }

  /** Constructing a generator over an EXISTING table and staging without
    * `create()` would silently reuse snapshot id 1 and restart row ids at 0,
    * corrupting history — fail fast instead (reopen is not a reference
    * operation; the reference always re-creates,
    * `IcebergTableGenerator.java:71-88`). */
  private def requireCreated(op: String): Unit =
    require(created, s"table $name: create() must run before $op — " +
      "reopening an existing table would corrupt snapshot ids and id monotonicity")

  /** Claim `n` generator row ids. Disabled on [[open]]ed generators: the
    * log does not persist the id counter, so a second writer minting ids
    * would restart at 0 and break the reference's id-monotonicity
    * contract. */
  private def claimIds(n: Int): Long = {
    require(nextId >= 0, s"table $name: generated-id appends require the " +
      "creating generator — an open()ed writer supports DataFrame writes " +
      "and maintenance only (row-id counter is not persisted)")
    val start = nextId; nextId += n; start
  }

  private def nextOpSeq(rewrite: Boolean = false): Long = {
    requireCreated("staging ops")
    if (rewrite) stagedHasRewrite = true else stagedHasUserWrite = true
    require(!(stagedHasRewrite && stagedHasUserWrite),
      "cannot mix compaction with appends/deletes in one transaction — " +
        "a snapshot has exactly one operation; commit() between them")
    stagedOps += 1; committedSeq + stagedOps
  }

  /** Drop-if-exists then create; Parquet layout props pass through to the
    * writer (reference `create`, `IcebergTableGenerator.java:71-88`;
    * format-version=2 semantics are inherent here).
    * Recognized props: `parquet.block.size`, `parquet.page.size`,
    * `parquet.dictionary.page.size` (reference `Main.java:186-191`).
    */
  def create(schema: GraftSchema, partitionCols: Seq[String],
             props: Map[String, String] = Map.empty): this.type = {
    partitionCols.foreach { s => // fail fast: parseable + source in schema
      val t = PartitionTransform.parse(s)
      require(schema.names.contains(t.source),
        s"partition transform $s reads ${t.source}, not a schema column")
    }
    deleteRecursively(tableDir)
    this.schema = schema; this.schemaV = 0
    this.partitionCols = partitionCols; this.specId = 0
    this.props = props
    this.nextId = 0; this.committedSeq = 0; this.committedSnapId = 0
    this.stagedOps = 0; this.stagedData = Vector.empty; this.stagedDeletes = Vector.empty
    this.stagedRemovedData = Vector.empty; this.stagedRemovedDeletes = Vector.empty
    this.stagedHasUserWrite = false; this.stagedHasRewrite = false
    this.sortOrderCols = Nil // create() wiped metadata/write-order.json
    this.created = true
    log.init()
    log.writeSchema(0, schema)
    log.writeSpec(0, partitionCols)
    if (props.nonEmpty) log.writeProperties(props)
    this
  }

  /** Iceberg-parity table-property evolution (`ALTER TABLE … SET
    * TBLPROPERTIES`): merge `kv` into the persisted property map. Layout
    * keys (`parquet.block.size`, `parquet.page.size`, …) take effect on
    * every subsequent write — including writes from a later [[open]]()ed
    * generator, since the map is table metadata, not writer state.
    * Property changes are metadata edits, NOT snapshots (Iceberg
    * semantics) — no commit() needed or produced. */
  def setProperties(kv: Map[String, String]): this.type = {
    requireCreated("setProperties()")
    props = props ++ kv
    log.writeProperties(props)
    this
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES`: drop keys (missing keys are a
    * no-op, matching Spark's IF EXISTS-less UNSET on v2 catalogs). */
  def removeProperties(keys: Seq[String]): this.type = {
    requireCreated("removeProperties()")
    props = props -- keys
    log.writeProperties(props)
    this
  }

  def tableProperties: Map[String, String] = props

  /** The declared write order ([[writeOrdered]]), empty when none. */
  def writeOrder: Seq[String] = sortOrderCols

  def liveSchema: GraftSchema = schema
  def currentPartitionCols: Seq[String] = partitionCols

  // ---- appends (reference `IcebergTableGenerator.java:103-175`) --------

  /** Partitioned append: for each partition value, `filesPerPartition`
    * Parquet files of `rowsPerFile` generated rows each. Exact file counts
    * are part of the scenario spec, so the per-file loop is intentional;
    * each file is a 1-task Spark job over a deterministic id range.
    */
  /** A generated/user frame must carry exactly the live schema's column
    * set — a frame still using a pre-[[renameColumn]] name would be
    * registered under the new schema epoch and read back as silent NULLs
    * (Parquet resolves by name inside one epoch). Fail loudly instead. */
  private def conformed(df: DataFrame): DataFrame = {
    require(df.columns.toSet == schema.names.toSet,
      s"frame columns ${df.columns.toSeq.sorted.mkString(",")} do not match " +
        s"the live schema ${schema.names.sorted.mkString(",")} — after " +
        "renameColumn, generators emitting the old name must be re-targeted")
    df.select(schema.names.map(col): _*)
  }

  def append(partitionValues: Seq[Any], bundle: RecordBundle,
             filesPerPartition: Int, rowsPerFile: Int): this.type = {
    require(partitionCols.size == 1, "reference appends target single-col specs")
    require(transforms.head.isIdentity,
      "reference appends pass literal partition values — identity specs only " +
        "(transformed specs take the appendData path, which derives values)")
    val opSeq = nextOpSeq()
    for (pv <- partitionValues; _ <- 0 until filesPerPartition) {
      val df = conformed(
        bundle.frame(spark, claimIds(rowsPerFile), rowsPerFile, Some(pv), schema))
      val pdir = dataDir.resolve(pv.toString)
      val target = uniqueNumberedFile(pdir, s"$pv-%02d.parquet")
      val w = writeFile(ordered(df), target, dataStats)
      stagedData :+= DataFileEntry(target.toString,
        Map(partitionCols.head -> pv.toString), specId, schemaV, opSeq, rowsPerFile,
        metrics = w.metrics)
    }
    this
  }

  /** Unpartitioned append (reference `IcebergTableGenerator.java:129-146`). */
  def append(bundle: RecordBundle, numFiles: Int, rowsPerFile: Int): this.type = {
    val opSeq = nextOpSeq()
    for (_ <- 0 until numFiles) {
      val df = conformed(
        bundle.frame(spark, claimIds(rowsPerFile), rowsPerFile, None, schema))
      val target = uniqueNumberedFile(dataDir, "%02d.parquet")
      val w = writeFile(ordered(df), target, dataStats)
      stagedData :+= DataFileEntry(target.toString, Map.empty, specId, schemaV,
        opSeq, rowsPerFile, metrics = w.metrics)
    }
    this
  }

  /** Bulk distributed append — the 100 TB-scale sink the per-file loop is
    * not: ONE Spark job writes all files in parallel (`partitionBy` when
    * the spec is partitioned), and its tasks hand back each file's honest
    * row count (needed for row-lineage assignment; readers still never
    * TRUST declared counts) and metrics — nothing is re-read.
    */
  def appendBulk(df: DataFrame, numFiles: Int): this.type = {
    val opSeq = nextOpSeq()
    if (partitionCols.isEmpty) {
      // with a declared write order: range-partition so each produced
      // file covers a DISJOINT sort-key range (tight manifest envelopes
      // from the first write); otherwise plain round-robin
      val laid =
        if (sortOrderCols.nonEmpty)
          df.repartitionByRange(numFiles, sortOrderCols.map(col): _*)
            .sortWithinPartitions(sortOrderCols.map(col): _*)
        else df.repartition(numFiles)
      writeFiles(laid, dataStats)(_.foreach { w =>
        val target = uniqueNumberedFile(dataDir, "%02d.parquet")
        Files.move(w.path, target, StandardCopyOption.REPLACE_EXISTING)
        stagedData :+= DataFileEntry(target.toString, Map.empty, specId,
          schemaV, opSeq, w.rows, metrics = w.metrics)
      })
    } else {
      // one partition-value column per spec transform (identity keeps the
      // data column; bucket/truncate/day/... compute the hidden value).
      // partitionBy strips its columns from file contents, so always
      // partition on DUPLICATES — the real columns stay in the files.
      val ts = transforms
      val dups = ts.indices.map(i => s"__gpart$i")
      val base = ts.zip(dups).foldLeft(df) { case (d, (t, dup)) =>
        val dt = schema.fields.find(_.name == t.source)
          .getOrElse(throw new IllegalArgumentException(
            s"partition transform source ${t.source} not in schema")).dataType
        d.withColumn(dup, t.valueExpr(dt).cast("string"))
      }
      val laid =
        if (sortOrderCols.nonEmpty)
          base.repartitionByRange(numFiles,
              dups.map(col) ++ sortOrderCols.map(col): _*)
            .sortWithinPartitions((dups ++ sortOrderCols).map(col): _*)
        else base.repartition(numFiles, dups.map(col): _*)
      writeFiles(laid, dataStats, dups)(_.foreach { w =>
        // rebuild the partition tuple from the __gpart0=v0/__gpart1=v1/...
        // directory chain; Spark path-escapes partition dir values
        // ('/' → %2F) and the metadata tuple must carry the TRUE value back
        val dirs = Iterator.iterate(w.path.getParent)(_.getParent)
          .take(dups.size).toSeq.reverse
        val vals = dups.zip(dirs).map { case (dup, d) =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(d.getFileName.toString.stripPrefix(s"$dup="))
        }
        val pmap = ts.zip(vals).map { case (t, v) => t.partName -> v }.toMap
        val pdir = partitionDirName(pmap)
        val target = uniqueNumberedFile(dataDir.resolve(pdir),
          s"$pdir-%02d.parquet")
        Files.move(w.path, target, StandardCopyOption.REPLACE_EXISTING)
        stagedData :+= DataFileEntry(target.toString, pmap, specId, schemaV,
          opSeq, w.rows, metrics = w.metrics)
      })
    }
    this
  }

  /** Iceberg `add_files` parity (SQL: `CALL graft.system.add_files`):
    * adopt EXISTING Parquet files as data files of this table WITHOUT
    * copying or rewriting them — the 100 TB migration path. The bytes
    * never move; one metadata commit registers the whole corpus, and the
    * adopted entries carry real min/max/null-count envelopes so they
    * prune exactly like natively-written files.
    *
    * Contract (the same strictness Iceberg's `add_files` applies):
    *   - every file must PHYSICALLY carry the full live schema by name
    *     (verified from footers — an enforced-schema scan would read a
    *     missing column as silent NULLs, so absence fails fast instead);
    *     extra columns are allowed and ignored by the name-based reads;
    *   - identity-transform specs only: adopted layouts are hive-style
    *     `col=value` directories, which cannot express hidden transforms;
    *     each file's partition tuple is parsed from its relative path,
    *     and the file's own min==max stats must agree with the directory
    *     value (a misplaced row would silently corrupt partition pruning);
    *   - already-registered paths are rejected (double adoption).
    *
    * Cost model at 10^7 files: one PARALLELIZED footer sweep (schema
    * check + honest per-file record counts — metadata I/O only, no data
    * bytes) plus ONE distributed scan feeding the adopted files' rows to
    * the per-file stats kernel every write uses ([[FileStats]]). Orphan GC
    * never touches adopted bytes: [[removeOrphanFiles]] walks only the
    * table directory, and adopted files live outside it.
    */
  def addFiles(sourceDir: String): this.type = {
    requireCreated("addFiles()")
    require(transforms.forall(_.isIdentity),
      s"addFiles: hive layouts carry identity partition values only — " +
        s"spec (${partitionCols.mkString(", ")}) has hidden transforms; " +
        "rewrite through appendBulk instead")
    val src = Paths.get(sourceDir).toAbsolutePath.normalize
    require(Files.isDirectory(src), s"addFiles: $src is not a directory")
    // recursive listing; partition tuple accumulates from `name=value` dirs
    def walk(dir: Path, acc: Map[String, String]): Seq[(Path, Map[String, String])] =
      listDir(dir).flatMap { p =>
        val n = p.getFileName.toString
        if (Files.isDirectory(p)) {
          val kv = n.split("=", 2)
          if (kv.length == 2)
            walk(p, acc + (kv(0) ->
              java.net.URLDecoder.decode(kv(1), "UTF-8")))
          else walk(p, acc)
        } else if (n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
          Seq(p -> acc)
        else Nil
      }
    val found = walk(src, Map.empty).sortBy(_._1.toString)
    require(found.nonEmpty, s"addFiles: no parquet files under $src")
    val pNames = transforms.map(_.partName)
    val partByPath: Map[String, Map[String, String]] = found.map { case (p, acc) =>
      pNames.foreach { pn =>
        require(acc.contains(pn),
          s"addFiles: ${src.relativize(p)} lacks a $pn=<value> directory " +
            s"for partition spec (${pNames.mkString(", ")})")
        require(acc(pn) != "__HIVE_DEFAULT_PARTITION__",
          s"addFiles: null-partition sentinel under ${src.relativize(p)}")
      }
      p.toString -> pNames.map(pn => pn -> acc(pn)).toMap
    }.toMap
    val already = lineage(log.load()).dataFiles.map(_.path).toSet ++
      stagedData.map(_.path)
    found.foreach { case (p, _) =>
      require(!already(p.toString), s"addFiles: $p is already registered")
    }
    val paths = found.map(_._1.toString)
    // 1. distributed footer sweep: (path, footer record count, top-level
    //    physical column names) — pure metadata I/O, no data bytes read
    val liveNames = schema.names
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val bc = spark.sparkContext.broadcast(hconf)
    val footers = spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, 64)))
      .map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), bc.value.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val cols = r.getFileMetaData.getSchema.getFields.asScala
            .map(_.getName).toSeq
          (p, r.getRecordCount, cols)
        } finally r.close()
      }.collect()
    footers.foreach { case (p, _, cols) =>
      val missing = liveNames.filterNot(cols.toSet)
      require(missing.isEmpty,
        s"addFiles: $p lacks column(s) ${missing.mkString(", ")} — " +
          "adopted files must physically carry the full live schema " +
          "(an enforced-schema read would return silent NULLs)")
    }
    val countByPath = footers.map { case (p, n, _) => p -> n }.toMap
    // 2. one distributed stats job over all adopted files
    val statsByPath = scanMetrics(paths)
    // partition-value honesty: an identity-partitioned file must be
    // single-valued on each partition column AND match its directory
    val fieldIdByName = schema.fields.map(f => f.name -> f.id).toMap
    val opSeq = nextOpSeq()
    found.foreach { case (p, _) =>
      val key = p.toString
      val m = statsByPath.getOrElse(key, Map.empty)
      partByPath(key).foreach { case (pcol, pval) =>
        fieldIdByName.get(pcol).flatMap(m.get).foreach { cm =>
          require(cm.min == cm.max && cm.min.contains(pval) && cm.nullCount == 0L,
            s"addFiles: $p carries ${pcol} values [${cm.min.getOrElse("null")}, " +
              s"${cm.max.getOrElse("null")}] (nulls: ${cm.nullCount}) but sits " +
              s"in directory $pcol=$pval — misplaced rows would corrupt " +
              "partition pruning")
        }
      }
      stagedData :+= DataFileEntry(key, partByPath(key), specId, schemaV,
        opSeq, countByPath(key), metrics = m)
    }
    this
  }

  /** Copy a pre-existing (empty-row-group) Parquet file into a partition and
    * register it with a LYING record count of 1 — the corrupt-metadata
    * stressor (reference `IcebergTableGenerator.java:148-175`, lie at
    * `:168`). With no source given, a 0-row file with the live schema is
    * synthesized (the reference hardcodes an author-machine path,
    * `Main.java:168-170`).
    */
  def appendEmptyFile(partitionValue: Any, source: Option[Path] = None): this.type = {
    require(transforms.headOption.forall(_.isIdentity),
      "appendEmptyFile passes a literal partition value — identity specs only")
    val opSeq = nextOpSeq()
    val pdir = dataDir.resolve(partitionValue.toString)
    val target = uniqueNumberedFile(pdir, s"$partitionValue-%02d.parquet")
    // honest stats from the file's content under the lying count
    val metrics = source match {
      case Some(src) =>
        Files.copy(src, target, StandardCopyOption.REPLACE_EXISTING)
        scanMetrics(Seq(target.toString)).getOrElse(target.toString, Map.empty)
      case None =>
        writeFile(spark.range(0).select(schema.fields.map(f =>
          lit(null).cast(f.dataType).as(f.name)): _*), target, dataStats).metrics
    }
    stagedData :+= DataFileEntry(target.toString,
      Map(partitionCols.head -> partitionValue.toString), specId, schemaV, opSeq, 1L,
      metrics = metrics)
    this
  }

  // ---- deletes (reference `IcebergTableGenerator.java:177-365`) --------

  def positionalDelete(pred: Column): this.type =
    positionalDelete(None, pred, 0, 0, Nil)

  def positionalDelete(partitionValues: Seq[Any], pred: Column): this.type =
    positionalDelete(Some(partitionValues), pred, 0, 0, Nil)

  /** Metadata-accelerated range DELETE (Iceberg's delete-by-filter with
    * metadata deletes): rows with `lo <= colName <= hi` (inclusive,
    * canonical-string bounds in the metrics rendering) are deleted in two
    * tiers decided ENTIRELY from the snapshot log —
    *
    *   - files whose recorded [min, max] envelope sits FULLY inside the
    *     range with ZERO recorded nulls (a null never matches a range
    *     predicate, so a file with nulls must keep its null rows) are
    *     dropped from the live set as PURE METADATA: no tombstone, no
    *     scan, no file I/O. Dropping a 100 TB retention window costs a
    *     manifest edit.
    *   - files that merely OVERLAP the range get their matching rows
    *     deleted through the ordinary positional machinery — one
    *     (path, pos)-ordered tombstone file per partition, every
    *     partition's written by ONE scan and ONE write job, or the
    *     partition's merged deletion vector when [[vectorDeletes]] is on.
    *     Files with no metrics are treated as overlapping (conservative:
    *     scanned, never mis-dropped).
    *   - disjoint files are untouched — not even opened.
    *
    * The dropped files stay on disk for time travel, exactly like a
    * compaction's removed files; the row-lineage changelog reports their
    * rows as ordinary delete events (state-based diff — no tombstone
    * needed to witness them). */
  def deleteWhere(colName: String, lo: Any, hi: Any): this.type = {
    requireCreated("deleteWhere()")
    val field = schema.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no column $colName in ${schema.names}"))
    val st = lineage(log.load())
    val loS = String.valueOf(lo)
    val hiS = String.valueOf(hi)
    def cmp(a: String, b: String): Option[Int] =
      MorReader.cmpMetric(field.dataType, a, b)
    val opSeq = nextOpSeq()
    val (fullyInside, others) = st.dataFiles.partition { f =>
      f.metrics.get(field.id).exists { m =>
        m.nullCount == 0 && m.min.zip(m.max).exists { case (mn, mx) =>
          cmp(mn, loS).exists(_ >= 0) && cmp(mx, hiS).exists(_ <= 0)
        }
      }
    }
    stagedRemovedData ++= fullyInside.map(_.path)
    // provably-disjoint files are skipped; unknown metrics are scanned
    val overlapping = others.filterNot { f =>
      f.metrics.get(field.id).exists { m =>
        m.min.zip(m.max).exists { case (mn, mx) =>
          cmp(mn, hiS).exists(_ > 0) || cmp(mx, loS).exists(_ < 0)
        }
      }
    }
    val pred = col(colName) >= lit(lo) && col(colName) <= lit(hi)
    val groups = overlapping.groupBy(_.partition).toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
    if (vectorDeleteMode)
      for ((partition, fs) <- groups)
        stageMergedVector(partition, rawScan(fs).where(pred)
            .select(col(MorReader.FilePathCol).as("file_path"),
              col(MorReader.PosCol).as("pos")),
          st.deleteFiles.filter(f => f.kind == "dv" && f.partition == partition),
          opSeq)
    else
      stagePositionFiles(groups, opSeq)(_.where(pred)
        .select(col(MorReader.FilePathCol).as("file_path"),
          col(MorReader.PosCol).as("pos"), col(DeleteIdxCol)))
    this
  }

  /** TRUNCATE: drop EVERY live data and delete file at the metadata tier —
    * one manifest edit, nothing scanned, nothing deleted from disk (time
    * travel to pre-truncate snapshots stays intact; snapshot expiry is
    * what eventually reclaims the bytes). Composes with staged appends in
    * the same transaction — `truncate(); appendBulk(df); commit()` is the
    * INSERT OVERWRITE shape: one "overwrite" snapshot whose reader sees
    * only the new rows. */
  def truncate(): this.type = {
    requireCreated("truncate()")
    nextOpSeq()
    val st = lineage(log.load())
    stagedRemovedData ++= st.dataFiles.map(_.path)
    stagedRemovedDeletes ++= st.deleteFiles.map(_.path)
    this
  }

  /** DYNAMIC partition overwrite (INSERT OVERWRITE under
    * `partitionOverwriteMode=dynamic`): stage the removal of EXACTLY the
    * partitions present in `df`, leaving every other partition untouched —
    * the daily re-materialization idiom. One tiny distinct job computes
    * the batch's partition tuples under the CURRENT spec (O(#touched
    * partitions) driver memory, loudly capped); live data files with a
    * matching tuple drop at the METADATA tier — no scan, no tombstones,
    * and the dropped files stay on disk for time travel, exactly like
    * [[truncate]]. Partition-scoped delete files for those tuples retire
    * in the same edit (their targets are gone); GLOBAL-scope delete files
    * stay — they only kill rows with LOWER sequence numbers, so the fresh
    * append is never affected. The caller appends the batch and commits:
    * one "overwrite" snapshot.
    *
    * Files written under OLDER specs keep their own partition tuples and
    * are matched only when the tuples coincide (Iceberg ReplacePartitions
    * semantics — dynamic overwrite addresses current-spec partitions;
    * evolve-then-compact first for mixed-spec tables). */
  def overwriteDynamic(df: DataFrame): this.type = {
    requireCreated("overwriteDynamic()")
    require(partitionCols.nonEmpty,
      "dynamic partition overwrite needs a partitioned table; " +
        "an unpartitioned INSERT OVERWRITE is truncate()+append")
    val ts = transforms
    val ves = ts.map { t =>
      val dt = schema.fields.find(_.name == t.source)
        .getOrElse(throw new IllegalArgumentException(
          s"partition transform source ${t.source} not in schema")).dataType
      t.valueExpr(dt).cast("string")
    }
    val cap = GraftTableGenerator.MaxDynamicOverwritePartitions
    val rows = df.select(
        ves.zipWithIndex.map { case (v, i) => v.as(s"_pv$i") }: _*)
      .distinct().limit(cap + 1).collect()
    require(rows.length <= cap,
      s"dynamic overwrite batch touches more than $cap partitions — " +
        "that is a whole-table rewrite; use INSERT OVERWRITE (truncate)")
    val tuples = rows.map(r => ts.zipWithIndex.map { case (t, i) =>
      t.partName -> r.getString(i) }.toMap).toSet
    nextOpSeq()
    val st = lineage(log.load())
    stagedRemovedData ++= st.dataFiles
      .filter(f => tuples.contains(f.partition)).map(_.path)
    stagedRemovedDeletes ++= st.deleteFiles
      .filter(f => f.partition.nonEmpty && tuples.contains(f.partition))
      .map(_.path)
    this
  }

  /** Toggle Iceberg-v3 NATIVE deletion-vector writes: while enabled,
    * [[positionalDelete]] merges its matches into the partition's single
    * deletion vector (read old vector, OR bitmaps, stage replacement)
    * instead of writing a tombstone file — the v3 writer contract, where
    * at most one vector per data file exists at any time and readers
    * never pay a tombstone anti-join. Tombstone and vector deletes
    * compose freely across commits (union of dead rows);
    * [[rewritePositionDeletesToDVs]] folds stragglers. */
  def vectorDeletes(enabled: Boolean): this.type = {
    vectorDeleteMode = enabled; this
  }

  /** File-pruned positional delete — the SQL DELETE fast path at scale:
    * the matching scan opens ONLY files whose partition tuple / metric
    * envelopes / manifest blooms can contain predicate matches (the same
    * pruning test the SELECT planner applies, [[MorReader.entryMatches]]).
    * Sound because a pruned file provably holds no matching row — it
    * needs no tombstones. A point DELETE on a bloom-indexed or sorted
    * 100 TB table scans a handful of files instead of all of them. */
  def positionalDeletePruned(pred: Column,
                             partitionFilter: Map[String, Set[String]],
                             ranges: Map[String, MorReader.ColRange],
                             pointValues: Map[String, Set[String]] = Map.empty)
      : this.type = {
    val live = schema
    val pointKeep = MorReader.pointValuesKeep(spark, log.load().specs, live, pointValues)
    positionalDelete(None, pred, 0, 0, Nil,
      f => MorReader.entryMatches(f, live, partitionFilter, ranges) &&
        pointKeep(f))
  }

  /** Scan committed data files (partition-pruned), write ONE positional-
    * delete file per partition containing `(file_path, pos, row)` of
    * predicate matches, strictly ordered by (path, pos) — every
    * partition's file from ONE scan and ONE write job, a partition with no
    * match getting an empty file; optionally interleave fake non-existent
    * file paths carrying `extraDeletesPerFile` entries each — delete-file
    * bloat a reader must ignore (reference
    * `IcebergTableGenerator.java:187-286`; fakes `:228-235,269-277`; used
    * 10000×10000 by S6 `Main.java:261-266`).
    *
    * Fake positions reproduce the cumulative `pos += intRange(1,100)` quirk
    * via a running-sum window; fake generation is pure Spark expressions —
    * ~10^8 rows never touch the driver (SURVEY.md §7.4.5). Each fake row
    * carries its partition's index, so the fakes join the same write.
    */
  def positionalDelete(partitionValues: Option[Seq[Any]], pred: Column,
                       extraFilesPerPartition: Int, extraDeletesPerFile: Int,
                       fakeRow: Seq[Column],
                       fileKeep: DataFileEntry => Boolean = _ => true): this.type = {
    val opSeq = nextOpSeq()
    // Iceberg-v3 NATIVE vector writes: matches go straight into a merged
    // per-partition deletion vector — no tombstone file at all. Fake-entry
    // bloat (S6) is inherently a tombstone-file shape, so it keeps the
    // classic path regardless of the mode.
    if (vectorDeleteMode && extraFilesPerPartition == 0) {
      val st = lineage(log.load())
      for ((partition, files) <- plannedPartitions(partitionValues, fileKeep)) {
        val matches = rawScan(files).where(pred)
          .select(col(MorReader.FilePathCol).as("file_path"),
            col(MorReader.PosCol).as("pos"))
        stageMergedVector(partition, matches,
          st.deleteFiles.filter(f => f.kind == "dv" && f.partition == partition),
          opSeq)
      }
      return this
    }
    val groups = plannedPartitions(partitionValues, fileKeep)
    val rowStruct = struct(schema.names.map(col): _*).as("row")
    val fakes =
      if (extraFilesPerPartition == 0) None
      else {
        // per partition: its index, `<data>/<part>/<part>-` path prefix
        // and the partition string the fake uuids hash
        val parts = groups.zipWithIndex.map { case ((partition, _), i) =>
          val ps = partitionDirName(partition)
          (i.toLong, if (ps.nonEmpty) s"$dataDir/$ps/$ps-" else s"$dataDir/", ps)
        }
        val h = md5(concat(lit(name), col("_ps"), col("id").cast("string"))
          .cast("binary"))
        val fakeUuid = concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
          substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
        val fakePaths = spark.createDataFrame(parts).toDF(DeleteIdxCol, "_prefix", "_ps")
          .crossJoin(spark.range(extraFilesPerPartition))
          .select(col(DeleteIdxCol), format_string("%s%010d-%s-fake.parquet",
            col("_prefix"), col("id"), fakeUuid).as("file_path"))
        val js = spark.range(extraDeletesPerFile).toDF("j")
        val w = Window.partitionBy(DeleteIdxCol, "file_path").orderBy("j")
          .rowsBetween(Window.unboundedPreceding, -1)
        val delta = (pmod(xxhash64(lit(seed), lit("fakepos"), col("file_path"), col("j")),
          lit(99L)) + 1)
        Some(fakePaths.crossJoin(js)
          .withColumn("pos", coalesce(sum(delta).over(w), lit(0L)))
          .select(col("file_path"), col("pos"),
            struct(schema.names.zip(fakeRow).map { case (n, c) => c.as(n) }: _*).as("row"),
            col(DeleteIdxCol)))
      }
    stagePositionFiles(groups, opSeq) { scan =>
      val matches = scan.where(pred)
        .select(col(MorReader.FilePathCol).as("file_path"),
          col(MorReader.PosCol).as("pos"), rowStruct, col(DeleteIdxCol))
      fakes.fold(matches)(matches.unionByName(_))
    }
    this
  }

  /** One (file_path, pos)-ordered positional delete file per planned
    * partition, all from one scan and one write ([[writeDeleteFiles]]). */
  private def stagePositionFiles(groups: Seq[(Map[String, String], Seq[DataFileEntry])],
                                 opSeq: Long)(rows: DataFrame => DataFrame): Unit =
    stagedDeletes ++= writeDeleteFiles("delete", groups, posDeleteStats,
        Seq("file_path", "pos"))(rows)
      .map { case (partition, target, w) =>
        DeleteFileEntry(target.toString, partition, "pos", Nil, Nil, opSeq,
          metrics = w.metrics)
      }

  /** Semi/anti-join positional DELETE with a correlated RESIDUAL — the
    * `DELETE WHERE [NOT] EXISTS (… s.k = t.k AND s.ts > t.ts …)` shape
    * an equality-delete file cannot express (whether a row dies depends
    * on BOTH sides, not just its key). One join decides the dead rows:
    * the committed scan (semi: pruned to the source's key envelope —
    * sound because key equality stays necessary for a match) joins the
    * `_s_`-prefixed source on key equality AND `joinResidual`, and the
    * matches' (path, pos) land in ordered tombstone file(s) the reader
    * prunes by path bounds (one file normally; path-range-split past
    * [[GraftTableGenerator.deleteSplitThreshold]]). `scanFilter`
    * (target-only conjuncts OUTSIDE the EXISTS) filters the scan first —
    * equivalent for semi, required ordering for anti. Cost: one join +
    * O(matches) tombstone bytes; no data file rewritten. */
  def deleteSemiJoin(src0: DataFrame, keyCols: Seq[String],
                     joinResidual: Option[Column],
                     scanFilter: Option[Column] = None,
                     anti: Boolean = false): this.type = {
    requireCreated("deleteSemiJoin()")
    keyCols.foreach(k => require(schema.names.contains(k), s"no key col $k"))
    val src = materialized(src0) // envelope probe + join read ONE frame
    val opSeq = nextOpSeq()
    val st = lineage(log.load())
    val files =
      if (anti) st.dataFiles
      else {
        val aggs = keyCols.flatMap(k => Seq(
          min(col(k)).cast("string").as(s"_lo_$k"),
          max(col(k)).cast("string").as(s"_hi_$k")))
        val r = src.agg(aggs.head, aggs.tail: _*).head()
        val ranges = keyCols.flatMap { k =>
          val lo = Option(r.getAs[String](s"_lo_$k"))
          val hi = Option(r.getAs[String](s"_hi_$k"))
          if (lo.isEmpty && hi.isEmpty) None
          else Some(k -> MorReader.ColRange(lo, hi))
        }.toMap
        st.dataFiles.filter(f =>
          MorReader.entryMatches(f, schema, Map.empty, ranges))
      }
    GraftTableGenerator.deleteScanFilesPlanned.addAndGet(files.size)
    if (files.isEmpty) return this
    val srcPref = src.select(src.columns.map(c => col(c).as(s"_s_$c")): _*)
    val keyEq = keyCols.map(k => col(k) === col(s"_s_$k")).reduce(_ && _)
    val scan0 = rawScan(files)
    val scan = scanFilter.map(scan0.where).getOrElse(scan0)
    val matches = scan.join(srcPref,
        joinResidual.map(keyEq && _).getOrElse(keyEq),
        if (anti) "left_anti" else "left_semi")
      .select(col(MorReader.FilePathCol).as("file_path"),
        col(MorReader.PosCol).as("pos"))
    stageOrderedTombstones(matches, Map.empty, opSeq)
    this
  }

  /** Stage `matches` (file_path, pos) as (path, pos)-ordered positional
    * tombstone file(s): ONE file normally; past
    * [[GraftTableGenerator.deleteSplitThreshold]] rows, N path-RANGE-
    * partitioned ordered files — a residual DELETE matching ~10⁹ rows
    * must not funnel a global sort+write through one task. Sound because
    * the reader consumes any number of positional files and prunes each
    * by its own recorded file_path bounds; the (path, pos) order the
    * spec requires is a per-file property, and range partitions are
    * disjoint and sorted within. Empty range partitions are skipped. */
  private def stageOrderedTombstones(matches0: DataFrame,
                                     partition: Map[String, String],
                                     opSeq: Long): Unit = {
    def stage(w: WrittenFile, target: Path): Unit =
      stagedDeletes :+= DeleteFileEntry(target.toString, partition, "pos", Nil, Nil,
        opSeq, metrics = w.metrics)
    val thr = GraftTableGenerator.deleteSplitThreshold(spark)
    val matches = matches0.localCheckpoint()
    val n = matches.count()
    if (n <= thr) {
      val target = deleteFileTarget("delete", partition)
      stage(writeFile(matches.repartition(1)
        .sortWithinPartitions("file_path", "pos"), target, posDeleteStats), target)
    } else {
      val parts = math.min(((n + thr - 1) / thr).toInt, 512)
      writeFiles(matches.repartitionByRange(parts, col("file_path"), col("pos"))
          .sortWithinPartitions("file_path", "pos"), posDeleteStats)(
        _.filter(_.rows > 0).foreach { w =>
          val target = deleteFileTarget("delete", partition)
          Files.move(w.path, target, StandardCopyOption.REPLACE_EXISTING)
          stage(w, target)
        })
    }
  }

  /** Semi/anti-join UPDATE with a correlated RESIDUAL — the
    * `UPDATE … WHERE [NOT] EXISTS (… s.k = t.k AND s.ts BETWEEN …)`
    * event-time-band enrichment, the UPDATE twin of [[deleteSemiJoin]].
    * Whether a row updates depends on BOTH sides, and several source
    * rows may witness the same target row — EXISTS semantics, which a
    * semi join gives exactly (each target row at most once, so there is
    * no MERGE cardinality concern and no dedup pass). Two reads, one
    * transaction:
    *   - the REWRITTEN rows come from the live MoR state (an already-
    *     dead row must not resurrect) joined left_semi / left_anti
    *     against the `_s_`-prefixed source on key equality AND
    *     `joinResidual`, with `sets` applied as ONE simultaneous
    *     projection over the original row, per SQL;
    *   - the TOMBSTONES come from the raw committed scan through the
    *     same join (an extra tombstone on an already-dead row is
    *     harmless), written (path, pos)-ordered and range-split past
    *     the threshold.
    * Both reads are key-envelope file-pruned for the semi form (key
    * equality stays necessary for a match); `scanFilter` (target-only
    * conjuncts OUTSIDE the EXISTS) filters both reads first. Cost: two
    * joins + O(matches) tombstone + O(matches) appended rows; no data
    * file rewritten. */
  def updateSemiJoin(src: DataFrame, keyCols: Seq[String],
                     joinResidual: Option[Column],
                     sets: Seq[(String, Column)],
                     scanFilter: Option[Column] = None,
                     anti: Boolean = false): this.type = {
    requireCreated("updateSemiJoin()")
    keyCols.foreach(k => require(schema.names.contains(k), s"no key col $k"))
    val srcC = materialized(src) // envelope agg + two joins, one read
    val st = lineage(log.load())
    val (files, ranges) =
      if (anti) (st.dataFiles, Map.empty[String, MorReader.ColRange])
      else {
        val aggs = keyCols.flatMap(k => Seq(
          min(col(k)).cast("string").as(s"_lo_$k"),
          max(col(k)).cast("string").as(s"_hi_$k")))
        val r = srcC.agg(aggs.head, aggs.tail: _*).head()
        val rg = keyCols.flatMap { k =>
          val lo = Option(r.getAs[String](s"_lo_$k"))
          val hi = Option(r.getAs[String](s"_hi_$k"))
          if (lo.isEmpty && hi.isEmpty) None
          else Some(k -> MorReader.ColRange(lo, hi))
        }.toMap
        (st.dataFiles.filter(f =>
          MorReader.entryMatches(f, schema, Map.empty, rg)), rg)
      }
    GraftTableGenerator.deleteScanFilesPlanned.addAndGet(files.size)
    if (files.isEmpty) return this
    val srcPref = srcC.select(srcC.columns.map(c => col(c).as(s"_s_$c")): _*)
    val keyEq = keyCols.map(k => col(k) === col(s"_s_$k")).reduce(_ && _)
    val joinCond = joinResidual.map(keyEq && _).getOrElse(keyEq)
    val joinType = if (anti) "left_anti" else "left_semi"
    val opSeq = nextOpSeq()
    // rewritten rows from the LIVE state, PINNED to the snapshot the
    // tombstone scan planned against (a concurrent commit landing
    // between the two loads must not append rows whose originals the
    // older tombstone file set never covers) and on the ACTIVE lineage
    // (a WAP-branch update must read the branch it writes)
    val pin = st.snapshots.lastOption.map(_.id)
    val liveBase = lineageRead(pin, if (anti) Map.empty else ranges)
    val live = scanFilter.map(liveBase.where).getOrElse(liveBase)
    val setsMap = sets.toMap
    val updated = live.join(srcPref, joinCond, joinType)
      .select(schema.fields.map(f =>
        setsMap.getOrElse(f.name, col(f.name)).cast(f.dataType).as(f.name)): _*)
      .localCheckpoint()
    // tombstones from the raw committed files
    val scan0 = rawScan(files)
    val scan = scanFilter.map(scan0.where).getOrElse(scan0)
    val matches = scan.join(srcPref, joinCond, joinType)
      .select(col(MorReader.FilePathCol).as("file_path"),
        col(MorReader.PosCol).as("pos"))
    stageOrderedTombstones(matches, Map.empty, opSeq)
    appendSlices(partitionSlices(updated))
    this
  }

  def equalityDelete(pred: Column, keyCols: Seq[String]): this.type =
    equalityDelete(None, pred, keyCols)

  def equalityDelete(partitionValues: Seq[Any], pred: Column,
                     keyCols: Seq[String]): this.type =
    equalityDelete(Some(partitionValues), pred, keyCols)

  /** Write ONE equality-delete file per partition holding the FULL rows
    * matching the predicate, in scan order, with the equality key columns
    * recorded in the snapshot log — every partition's file by ONE write
    * job, whose single task reads the partitions' rows in turn (no
    * shuffle), a partition with no match getting an empty file; a row is
    * later deleted iff its key tuple matches a
    * delete row from a strictly later sequence number (reference
    * `IcebergTableGenerator.java:288-365`; key-id resolution
    * `Main.java:590-594`).
    *
    * Besides the full row, each file carries canonical `_dk<fieldId>` key
    * columns. Field ids are stable across renames/drops, so every eq-delete
    * file — whatever schema epoch it was written under — exposes the SAME
    * key column names, which lets the reader scan all files of a key set in
    * ONE multi-path read instead of one plan branch per file (the scale fix
    * for S9-shaped tables with ~100 delete commits).
    */
  def equalityDelete(partitionValues: Option[Seq[Any]], pred: Column,
                     keyCols: Seq[String]): this.type = {
    requireCreated("equalityDelete()")
    keyCols.foreach(k => require(schema.names.contains(k), s"no key col $k"))
    val opSeq = nextOpSeq()
    val canonicalKeys = keyCols.map(k => col(k).as(s"_dk${schema.fieldId(k)}"))
    stagedDeletes ++= writeDeleteFiles("eqdelete", plannedPartitions(partitionValues),
        eqDeleteStats(keyCols), order = Nil) { scan =>
      scan.where(pred).select(schema.names.map(col) ++ canonicalKeys :+ col(DeleteIdxCol): _*)
    }.map { case (partition, target, w) =>
      DeleteFileEntry(target.toString, partition, "eq", keyCols,
        keyCols.map(schema.fieldId), opSeq,
        keyColsWritten = keyCols.map(k => s"_dk${schema.fieldId(k)}"),
        metrics = w.metrics)
    }
    this
  }

  /** The current spec's parsed transforms (bare names = identity, the
    * legacy spec-log encoding — [[graft.meta.PartitionTransform]]). */
  private def transforms: Seq[PartitionTransform] =
    partitionCols.map(PartitionTransform.parse)

  /** One (partition-map, rows) slice per DISTINCT TUPLE of partition
    * values — each value is its spec transform of the source column
    * (identity: the column itself; bucket/truncate/day: the DERIVED
    * value, while rows keep only the source columns — Iceberg's hidden
    * partitioning). Multi-transform specs (the standard `category × day`
    * / `tenant × bucket(id)` 100 TB layouts) slice on the full tuple;
    * file-level pruning then composes per key through the ordinary
    * partition-map filter. Evaluates the caller's df once for the value
    * list; slices are lazy filters. */
  private def partitionSlices(df: DataFrame): Seq[(Map[String, String], DataFrame)] =
    if (partitionCols.isEmpty) Seq((Map.empty[String, String], df))
    else {
      val ts = transforms
      val ves = ts.map { t =>
        val dt = schema.fields.find(_.name == t.source)
          .getOrElse(throw new IllegalArgumentException(
            s"partition transform source ${t.source} not in schema")).dataType
        t.valueExpr(dt).cast("string")
      }
      df.select(ves.zipWithIndex.map { case (v, i) => v.as(s"_pv$i") }: _*)
        .distinct().collect()
        .map(r => ts.indices.map(r.getString)).toSeq
        .sortBy(_.mkString("-"))
        .map { vals =>
          val pmap = ts.zip(vals).map { case (t, v) => t.partName -> v }.toMap
          val pred = ves.zip(vals).map { case (ve, v) => ve === v }
            .reduce(_ && _)
          (pmap, df.where(pred))
        }
    }

  private def appendSlices(slices: Seq[(Map[String, String], DataFrame)]): Unit = {
    val opSeq = nextOpSeq()
    for ((partition, rows) <- slices) {
      val partitionString = partitionDirName(partition)
      val target =
        if (partitionString.nonEmpty)
          uniqueNumberedFile(dataDir.resolve(partitionString),
            s"$partitionString-%02d.parquet")
        else uniqueNumberedFile(dataDir, "%02d.parquet")
      // real count from the write tasks — readers still never TRUST it,
      // but row-lineage assignment needs it
      val w = writeFile(ordered(rows.select(schema.names.map(col): _*)), target,
        dataStats)
      stagedData :+= DataFileEntry(target.toString, partition, specId, schemaV,
        opSeq, w.rows, metrics = w.metrics)
    }
  }

  /** Append caller-provided rows (live-schema columns required; for
    * partitioned specs the partition column must be populated). One data
    * file per partition value — the scenario-scale path; a 100 TB ingest
    * would use `partitionBy` bulk writes with the same registration. */
  def appendData(df: DataFrame): this.type = {
    appendSlices(partitionSlices(df))
    this
  }

  /** MERGE-style upsert: rows whose `keyCols` tuple already exists replace
    * the old row; new keys insert. Composed from the MoR primitives — an
    * equality-delete file holding the incoming rows (op seq s) followed by
    * an append (op seq s+1): old rows have seq < s and die, incoming rows
    * have seq s+1 > s and live. No data file is rewritten — pure
    * merge-on-read, O(incoming) write cost.
    *
    * The delete is registered with GLOBAL partition scope (one file at the
    * table root): a key whose incoming row lands in a different partition
    * than its old row must still kill the old row — a partition-scoped
    * delete would miss it and silently violate key uniqueness.
    */
  def upsert(df: DataFrame, keyCols: Seq[String]): this.type = {
    keyCols.foreach(k => require(schema.names.contains(k), s"no key col $k"))
    val delSeq = nextOpSeq()
    val slices = partitionSlices(df)
    val target = deleteFileTarget("eqdelete", Map.empty)
    val canonicalKeys = keyCols.map(k => col(k).as(s"_dk${schema.fieldId(k)}"))
    val w = writeFile(df.select(schema.names.map(col) ++ canonicalKeys: _*), target,
      eqDeleteStats(keyCols))
    stagedDeletes :+= DeleteFileEntry(target.toString, Map.empty, "eq", keyCols,
      keyCols.map(schema.fieldId), delSeq,
      keyColsWritten = keyCols.map(k => s"_dk${schema.fieldId(k)}"),
      metrics = w.metrics)
    appendSlices(slices)
    this
  }

  /** CDC delete-by-key: stage ONE equality-delete file whose keys come
    * from `df` (key columns only — the frame may carry more) — the
    * changelog-apply primitive: a replica sink applies a net-delete set
    * without ever scanning the target (O(deleted keys) write cost, same
    * global-partition-scope reasoning as [[upsert]]). Rows with any NULL
    * key are dropped (a NULL never equality-matches, per SQL). */
  def deleteKeys(df: DataFrame, keyCols: Seq[String]): this.type = {
    keyCols.foreach(k => require(schema.names.contains(k), s"no key col $k"))
    val delSeq = nextOpSeq()
    val target = deleteFileTarget("eqdelete", Map.empty)
    val keys = df.select(keyCols.map(col): _*)
      .na.drop("any", keyCols).distinct()
    val w = writeFile(keys.select(keyCols.map(col) ++
      keyCols.map(k => col(k).as(s"_dk${schema.fieldId(k)}")): _*), target,
      eqDeleteStats(keyCols))
    stagedDeletes :+= DeleteFileEntry(target.toString, Map.empty, "eq", keyCols,
      keyCols.map(schema.fieldId), delSeq,
      keyColsWritten = keyCols.map(k => s"_dk${schema.fieldId(k)}"),
      metrics = w.metrics)
    this
  }

  /** Anti-join DELETE (SQL `DELETE … WHERE NOT EXISTS (<key-equality>)`,
    * the standard retention idiom): remove target rows whose key matches
    * NO row of `df`. Target keys are read column-pruned from the committed
    * state, distinct-ed, and anti-joined against `df`'s distinct non-null
    * keys — unmatched keys become ONE equality-delete file (O(unmatched
    * keys) write cost, no data file rewritten). A NULL target key never
    * equality-matches, so NOT EXISTS holds for those rows too — they die
    * by positional delete staged in the SAME transaction (only when such
    * rows exist; the probe rides the already-computed key projection).
    * `nullKeysDie = false` keeps null-key rows instead — the NOT IN
    * three-valued twin, where a NULL key makes the predicate UNKNOWN and
    * the row survives. */
  def deleteKeysAnti(df: DataFrame, keyCols: Seq[String],
                     nullKeysDie: Boolean = true): this.type = {
    keyCols.foreach(k => require(schema.names.contains(k), s"no key col $k"))
    val srcKeys = df.select(keyCols.map(col): _*)
      .na.drop("any", keyCols).distinct()
    // pinned to the active lineage's head: the anti-join's key universe,
    // the null-key positional delete, and the staged eq-delete must all
    // describe ONE state (and, on a WAP branch, the branch's state)
    val tgtKeys = lineageRead(
        lineage(log.load()).snapshots.lastOption.map(_.id))
      .select(keyCols.map(col): _*).localCheckpoint()
    val nullPred = keyCols.map(col(_).isNull).reduce(_ || _)
    if (nullKeysDie && !tgtKeys.where(nullPred).isEmpty)
      positionalDelete(nullPred)
    val unmatched = tgtKeys.na.drop("any", keyCols).distinct()
      .join(srcKeys, keyCols, "left_anti").localCheckpoint()
    if (!unmatched.isEmpty) deleteKeys(unmatched, keyCols)
    this
  }

  /** Full conditional MERGE (the SQL `MERGE INTO` shape) composed from the
    * same MoR primitives as [[upsert]]. Source rows join the CURRENT merged
    * table state on `keyCols`; per source row,
    *   - matched and `deleteWhen`   → the target row dies (equality delete),
    *   - matched and `updateWhen`   → the target row dies and the source
    *     row is inserted (update-as-delete+insert),
    *   - matched, neither condition → the target row is left UNTOUCHED
    *     (unlike [[upsert]], which always replaces),
    *   - unmatched and `insertWhen` → the source row is inserted.
    * Conditions are `Column`s over the source row's columns (schema columns
    * plus any extra columns the source carries, e.g. an `op` action column)
    * and the matched target row's columns prefixed `_t_` — so
    * `col("ver") > col("_t_ver")` reads "update only if newer". A condition
    * that evaluates NULL (e.g. one referencing `_t_` columns on an
    * unmatched row) counts as false, per SQL. Defaults make
    * `mergeInto(src, keys)` behave exactly like `upsert(src, keys)`.
    *
    * Cost shape at scale: the target read is FILE-PRUNED to the source's
    * key envelope — per key column, min/max over the source (one tiny
    * aggregate job) becomes a [[MorReader.readRange]] range, so merging a
    * batch into a key-sorted/clustered 100 TB table opens only the files
    * whose stats (min/max, and the manifest Bloom filter when the batch is
    * a single key value) can intersect; files outside the envelope hold
    * only unmatched target rows, which a merge never touches, so pruning is
    * sound. Then ONE shuffle join of source against that pruned state (AQE
    * broadcasts a small source), one equality-delete file holding only the
    * AFFECTED keys (global partition scope — same cross-partition-move
    * reasoning as [[upsert]]), and an O(inserted) append. No data file is
    * rewritten; all join/filter work is executor-side (the joined frame is
    * O(source) rows and is localCheckpoint-ed so classification runs the
    * join once).
    *
    * Cardinality rule (SQL MERGE): a target row matched by MORE THAN ONE
    * source row would make the outcome join-order-dependent, so duplicate
    * matched source keys are rejected. Duplicate UNMATCHED keys are
    * allowed and all insert, as in SQL.
    *
    * `WHEN NOT MATCHED BY SOURCE` (full-snapshot reconciliation): target
    * rows whose key matches NO source row take `nmbsDeleteWhen` /
    * `nmbsUpdateWhen` + `nmbsSets` — conditions and SET expressions over
    * TARGET columns only (plain names; there is no source row in scope,
    * per SQL). Delete wins when both hold, mirroring the matched path.
    * Cost shape: NMBS makes every target row a candidate, so the NMBS leg
    * reads the FULL committed state (the key-envelope pruning above stays
    * sound for the matched/insert legs) and anti-joins the source's
    * distinct keys — one extra shuffle-or-broadcast join, O(target) scan,
    * which is inherent to the semantics, not an implementation choice.
    * All legs still publish in the SAME single snapshot (one eq-delete
    * file, one append set, one commit).
    */
  def mergeInto(source0: DataFrame, keyCols: Seq[String],
                updateWhen: Column = lit(true),
                deleteWhen: Column = lit(false),
                insertWhen: Column = lit(true),
                nmbsUpdateWhen: Option[Column] = None,
                nmbsDeleteWhen: Option[Column] = None,
                nmbsSets: Seq[(String, Column)] = Nil,
                updateSets: Option[Seq[(String, Column)]] = None,
                insertSets: Option[Seq[(String, Column)]] = None,
                onResidual: Option[Column] = None): this.type = {
    requireCreated("mergeInto")
    // point-value/envelope probes + the join + the NMBS anti-join all
    // read ONE materialization — a non-deterministic source must not
    // prune against one sample and join another
    val source = materialized(source0)
    // every target read below (matched leg, NMBS leg) is pinned to the
    // lineage head seen HERE: the staged delete + append must describe
    // one state, not whatever later loads happen to observe
    val mergePin = lineage(log.load()).snapshots.lastOption.map(_.id)
    // Non-star clause projections (`UPDATE SET val = _t_val + bonus`,
    // `INSERT (id, val) VALUES (id, -1)`): expressions over source columns
    // (plain names) and matched-target columns (`_t_` prefix). An updated
    // row keeps the TARGET's value for unassigned columns; an inserted row
    // takes NULL, per SQL. When either is supplied the source needs only
    // its key + referenced columns, not the full schema.
    val partial = updateSets.isDefined || insertSets.isDefined
    keyCols.foreach(k => require(schema.names.contains(k), s"no key col $k"))
    if (!partial)
      schema.names.foreach(n => require(source.columns.contains(n),
        s"mergeInto source must carry every schema column; missing $n"))
    else
      keyCols.foreach(k => require(source.columns.contains(k),
        s"mergeInto source must carry key column $k"))
    source.columns.foreach(c => require(
      !c.startsWith("_t_") && !c.startsWith("_dk") &&
        !Set("_do_del", "_do_upd", "_do_ins", "_dup").contains(c),
      s"source column $c collides with mergeInto's reserved names"))

    // File-pruned target read. Small single-key batches (≤ the in-set cap)
    // take the PER-VALUE path — envelope + manifest bloom + hidden
    // partition transform per distinct key ([[MorReader.readValues]]), the
    // CDC fast path: a micro-batch touching k keys opens ~k files on a
    // bloom-indexed or bucketed table. Restricting the target to IN-set
    // rows is sound for a merge: rows filtered out can't match any source
    // key, and unmatched target rows are never touched. Wider batches fall
    // back to the per-key min/max envelope as ranges. Both decisions are
    // metadata-scale driver jobs over the SOURCE (bounded collect).
    val inSetCap = 32
    val pointVals: Option[Seq[String]] =
      if (keyCols.size != 1) None
      else {
        val vs = source.select(col(keyCols.head).cast("string"))
          .where(col(keyCols.head).isNotNull)
          .distinct().limit(inSetCap + 1).collect().map(_.getString(0)).toSeq
        if (vs.nonEmpty && vs.size <= inSetCap) Some(vs) else None
      }
    val tgtBase = pointVals match {
      case Some(vs) =>
        lineageRead(mergePin, pointValues = Map(keyCols.head -> vs.toSet))
      case None =>
        val ranges: Map[String, MorReader.ColRange] = {
          val aggs = keyCols.flatMap(k => Seq(
            min(col(k)).cast("string").as(s"_lo_$k"),
            max(col(k)).cast("string").as(s"_hi_$k")))
          val r = source.agg(aggs.head, aggs.tail: _*).head()
          keyCols.flatMap { k =>
            val lo = Option(r.getAs[String](s"_lo_$k"))
            val hi = Option(r.getAs[String](s"_hi_$k"))
            if (lo.isEmpty && hi.isEmpty) None // all-null keys match nothing
            else Some(k -> MorReader.ColRange(lo, hi))
          }.toMap
        }
        lineageRead(mergePin, ranges)
    }
    val tgt = tgtBase
      .select(schema.names.map(n => col(n).as(s"_t_$n")) :+ lit(true).as("_t_matched"): _*)

    // `onResidual`: extra non-equi ON conjuncts (time bands, ranges) over
    // source columns (plain names) and target columns (`_t_` prefix). Key
    // equality stays NECESSARY for a match, so the key-envelope file
    // pruning above remains sound; the residual only narrows matches —
    // a key-matching source row whose residual fails is NOT MATCHED
    // (inserts), and the target row it key-touched stays NMBS, per SQL.
    val keyJoin = keyCols.map(k => col(k) === col(s"_t_$k")).reduce(_ && _)
    val joined = source.join(tgt,
      onResidual.map(keyJoin && _).getOrElse(keyJoin), "left_outer")
    val matched = col("_t_matched").isNotNull
    val doDel = matched && coalesce(deleteWhen, lit(false))
    val doUpd = matched && !coalesce(deleteWhen, lit(false)) &&
      coalesce(updateWhen, lit(false))
    val doIns = !matched && coalesce(insertWhen, lit(false))
    val canonicalKeys = keyCols.map(k => col(k).as(s"_dk${schema.fieldId(k)}"))
    // the classified frame carries the SOURCE columns (star projections
    // and SET expressions read them by plain name) and, for partial
    // merges, the matched target row's `_t_` columns (SET expressions and
    // unassigned-column defaults read those)
    val classifiedCols =
      (if (partial) source.columns.toSeq.map(col) ++
        schema.names.map(n => col(s"_t_$n"))
       else schema.names.map(col))
    val classified = joined.select(
      classifiedCols ++ canonicalKeys ++ Seq(
        doDel.as("_do_del"), doUpd.as("_do_upd"), doIns.as("_do_ins"),
        // count MATCHED rows only: under a residual ON, same-key source
        // rows can differ in matching, and an unmatched sibling must not
        // trip the cardinality guard
        (matched && count(when(matched, lit(1))).over(
          Window.partitionBy(keyCols.map(col): _*)) > 1).as("_dup")): _*)
      .localCheckpoint() // ONE join execution feeds delete file + appends

    require(classified.where(col("_dup")).isEmpty,
      s"mergeInto: more than one source row matches a target row on " +
        s"(${keyCols.mkString(", ")}) — SQL MERGE cardinality violation")

    // NOT MATCHED BY SOURCE leg: full committed read, anti-join on the
    // source's distinct keys (null keys never match, so they are NMBS),
    // classify once (checkpoint: one join execution feeds both the delete
    // keys and the rewritten-row appends)
    val nmbsClassified: Option[DataFrame] =
      if (nmbsUpdateWhen.isEmpty && nmbsDeleteWhen.isEmpty) None
      else {
        val unmatched = onResidual match {
          case None =>
            val srcKeys = source.select(keyCols.map(col): _*)
              .where(keyCols.map(col(_).isNotNull).reduce(_ && _)).distinct()
            lineageRead(mergePin).join(srcKeys, keyCols, "left_anti")
          case Some(res) =>
            // a target row is NMBS iff NO source row satisfies keys AND
            // residual — expression anti-join with the source prefixed
            // `_s_` and the residual re-rendered (`_t_x`→`x`, `y`→`_s_y`)
            val srcPref = source.select(
              source.columns.map(c => col(c).as(s"_s_$c")): _*)
            import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            val resAnti = org.apache.spark.sql.graft.GraftSqlShim.column(
              org.apache.spark.sql.graft.GraftSqlShim.expression(res).transform {
                case UnresolvedAttribute(Seq(n)) if n.startsWith("_t_") =>
                  UnresolvedAttribute(Seq(n.stripPrefix("_t_")))
                case UnresolvedAttribute(Seq(n)) =>
                  UnresolvedAttribute(Seq(s"_s_$n"))
              })
            lineageRead(mergePin).join(srcPref,
              keyCols.map(k => col(k) === col(s"_s_$k")).reduce(_ && _) &&
                resAnti, "left_anti")
        }
        val doDel = coalesce(nmbsDeleteWhen.getOrElse(lit(false)), lit(false))
        val doUpd = !doDel && coalesce(nmbsUpdateWhen.getOrElse(lit(false)), lit(false))
        Some(unmatched
          .select(schema.names.map(col) ++ canonicalKeys ++
            Seq(doDel.as("_do_del"), doUpd.as("_do_upd")): _*)
          .where(col("_do_del") || col("_do_upd"))
          .localCheckpoint())
      }

    // delete-file row image: source values on the star path (unchanged
    // bytes), the matched TARGET's old values on the partial path (the
    // source may not even carry every column there)
    val matchedAffected = classified.where(col("_do_del") || col("_do_upd"))
      .select((if (partial) schema.names.map(n => col(s"_t_$n").as(n))
               else schema.names.map(col)) ++ keyCols.map(k =>
        col(s"_dk${schema.fieldId(k)}")): _*)
    // NULL-key NMBS rows can never be addressed by an equality delete (the
    // reader's key join is null-rejecting, so a NULL `_dk` row deletes
    // nothing) — they die POSITIONALLY instead, in the same transaction,
    // mirroring deleteKeysAnti's null-key leg. Sound because a NULL key
    // never matches the ON join, so every null-key target row is NMBS by
    // construction; the predicate re-derives exactly the classified rows.
    val anyKeyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    nmbsClassified.foreach { n =>
      if (!n.where(anyKeyNull).isEmpty) {
        val doDel = coalesce(nmbsDeleteWhen.getOrElse(lit(false)), lit(false))
        val doUpd = !doDel && coalesce(nmbsUpdateWhen.getOrElse(lit(false)), lit(false))
        // null-count pruning: a file whose every key column records ZERO
        // nulls provably holds no null-key row — the matching scan skips it
        positionalDelete(None, anyKeyNull && (doDel || doUpd), 0, 0, Nil,
          f => keyCols.exists(k => f.metrics.get(schema.fieldId(k))
            .forall(_.nullCount != 0)))
      }
    }
    val affected = nmbsClassified match {
      case Some(n) => matchedAffected.unionByName(
        n.where(!anyKeyNull)
          .select(schema.names.map(col) ++ keyCols.map(k =>
            col(s"_dk${schema.fieldId(k)}")): _*))
      case None => matchedAffected
    }
    if (!affected.isEmpty) {
      val delSeq = nextOpSeq()
      val target = deleteFileTarget("eqdelete", Map.empty)
      val w = writeFile(affected, target, eqDeleteStats(keyCols))
      stagedDeletes :+= DeleteFileEntry(target.toString, Map.empty, "eq", keyCols,
        keyCols.map(schema.fieldId), delSeq,
        keyColsWritten = keyCols.map(k => s"_dk${schema.fieldId(k)}"),
        metrics = w.metrics)
    }
    // SQL assignment is SIMULTANEOUS (every SET expression evaluates
    // against the original row), so NMBS assignments go into ONE projection
    val nmbsSetsMap = nmbsSets.toMap
    val matchedInserts =
      if (!partial)
        classified.where(col("_do_upd") || col("_do_ins"))
          .select(schema.names.map(col): _*)
      else {
        val updMap = updateSets.getOrElse(Nil).toMap
        val insMap = insertSets.getOrElse(Nil).toMap
        val updRows = classified.where(col("_do_upd"))
          .select(schema.fields.map(f =>
            updMap.getOrElse(f.name, col(s"_t_${f.name}"))
              .cast(f.dataType).as(f.name)): _*)
        val insRows = classified.where(col("_do_ins"))
          .select(schema.fields.map(f =>
            insMap.getOrElse(f.name, lit(null))
              .cast(f.dataType).as(f.name)): _*)
        updRows.unionByName(insRows)
      }
    val inserts = nmbsClassified match {
      case Some(n) => matchedInserts.unionByName(
        n.where(col("_do_upd")).select(schema.names.map(c =>
          nmbsSetsMap.getOrElse(c, col(c)).as(c)): _*))
      case None => matchedInserts
    }
    if (!inserts.isEmpty) appendSlices(partitionSlices(inserts))
    this
  }

  // ---- evolution (reference `IcebergTableGenerator.java:94-101`, `Main.java:440-443`) ----

  /** Partition-spec evolution: later appends use the new spec; existing
    * files keep their layout (reference `updateSpec`, used by S7
    * `Main.java:281-283`). */
  def updateSpec(additions: Seq[String], removals: Seq[String]): this.type = {
    requireCreated("updateSpec()")
    additions.foreach(PartitionTransform.parse) // fail fast on bad specs
    partitionCols = partitionCols.filterNot(removals.contains) ++ additions
    specId += 1
    log.writeSpec(specId, partitionCols)
    this
  }

  /** Rename a column between commits (Iceberg `UpdateSchema.renameColumn`):
    * pure metadata — the field id is the identity, so files written under
    * the old name keep resolving through the by-id epoch projection, and
    * eq-delete keys recorded by id keep applying. A renamed partition
    * column renames in the spec too. */
  def renameColumn(oldName: String, newName: String): this.type = {
    requireCreated("renameColumn()")
    schema = schema.renameColumn(oldName, newName)
    schemaV += 1
    log.writeSchema(schemaV, schema)
    if (transforms.exists(_.source == oldName)) {
      partitionCols = partitionCols.map { s =>
        import graft.meta.PartitionTransform._
        PartitionTransform.parse(s) match {
          case Identity(`oldName`) => newName
          case Bucket(n, `oldName`) => Bucket(n, newName).render
          case Truncate(w, `oldName`) => Truncate(w, newName).render
          case Day(`oldName`) => Day(newName).render
          case Month(`oldName`) => Month(newName).render
          case Hour(`oldName`) => Hour(newName).render
          case _ => s
        }
      }
      specId += 1
      log.writeSpec(specId, partitionCols)
    }
    this
  }

  /** Schema evolution by field id: add columns / delete columns between
    * commits (reference `Main.java:440-443`). */
  def updateSchema(addCols: Seq[(String, org.apache.spark.sql.types.DataType)],
                   dropCols: Seq[String]): this.type = {
    requireCreated("updateSchema()")
    var s = schema
    addCols.foreach { case (n, t) => s = s.addColumn(n, t) }
    dropCols.foreach(n => s = s.deleteColumn(n))
    schema = s
    schemaV += 1
    log.writeSchema(schemaV, s)
    this
  }

  /** `ANALYZE TABLE` ([[graft.meta.TableStats]]): one distributed pass
    * over the live table persists per-column NDV / null count / min-max
    * plus the row count — the table-level cardinalities a cost-based
    * planner needs and per-file metrics cannot provide. */
  def analyze(cols: Seq[String] = Nil): graft.meta.TableStats.Stats = {
    requireCreated("analyze()")
    graft.meta.TableStats.analyze(spark, tableDir.toString, cols)
  }

  /** Add one column with an Iceberg-v3 INITIAL DEFAULT: pre-existing rows
    * read `initialDefault` (canonical string, cast to `dataType`) instead
    * of null — a pure metadata commit, nothing rewritten. Applies
    * EVERYWHERE the field id resolves, including equality-delete keys: an
    * eq delete matching the default kills pre-add rows, exactly as if the
    * value were physically present ([[graft.read.MorReader]] projects the
    * default wherever an epoch schema lacks the id). */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType,
                initialDefault: Option[String] = None): this.type = {
    requireCreated("addColumn()")
    schema = schema.addColumn(name, dataType, initialDefault)
    schemaV += 1
    log.writeSchema(schemaV, schema)
    this
  }

  /** Compaction (merge-on-read → copy-on-write rewrite): per selected
    * partition, materialize the MoR-merged live rows into ONE fresh data
    * file and drop the partition's old data + delete files from the live
    * set (they stay on disk, so time travel to earlier snapshots still
    * resolves). The Iceberg `rewrite_data_files` analog — at scale this is
    * the operation that caps delete-file fan-in on the read path.
    */
  def compact(partitionValues: Option[Seq[Any]] = None): this.type = {
    val opSeq = nextOpSeq(rewrite = true)
    val st = lineage(log.load())
    for ((partition, files) <- plannedPartitions(partitionValues)) {
      // merge EXACTLY this group's files (a partition-map filter would also
      // match other-spec-epoch files whose partition lacks the key — their
      // rows would be duplicated into the new file while staying live)
      val groupPaths = files.map(_.path).toSet
      val restricted = st.copy(snapshots = st.snapshots.map(s =>
        s.copy(dataFiles = s.dataFiles.filter(f => groupPaths(f.path)))))
      // survivors carry their ORIGINAL row ids and last-updated seqs into
      // the rewritten file as physical columns (Iceberg-v3 row lineage:
      // identity survives compaction)
      val merged = MorReader.withMeta(spark, restricted, schema, Map.empty)
        .select(schema.names.map(col)
          :+ col(MorReader.RowIdCol) :+ col(MorReader.LastSeqCol): _*)
      val partitionString = partitionDirName(partition)
      val target =
        if (partitionString.nonEmpty)
          uniqueNumberedFile(dataDir.resolve(partitionString),
            s"$partitionString-%02d.parquet")
        else uniqueNumberedFile(dataDir, "%02d.parquet")
      val w = writeFile(merged, target, dataStats)
      stagedData :+= DataFileEntry(target.toString, partition, specId, schemaV,
        opSeq, w.rows, metrics = w.metrics, lineageInFile = true)
      stagedRemovedData ++= files.map(_.path)
      stagedRemovedDeletes ++=
        st.deleteFiles.filter(_.partition == partition).map(_.path)
    }
    this
  }

  /** POLICY compaction — the steady-state maintenance loop shape: rewrite
    * only the partitions whose live file count has reached `minFiles`
    * (ingest fragments partitions unevenly, and a full-table rewrite is
    * unamortizable at 100 TB — Iceberg's `rewrite_data_files` runs with
    * exactly this kind of min-input-files filter). Returns the partitions
    * selected; when none qualify NOTHING is staged, so callers can skip
    * the commit entirely. */
  def compactFragmented(minFiles: Int): Seq[Map[String, String]] = {
    requireCreated("compactFragmented()")
    require(minFiles >= 2, s"minFiles must be >= 2, got $minFiles")
    val frag = plannedPartitions(None).filter(_._2.size >= minFiles).map(_._1)
    if (frag.isEmpty) return Nil
    if (partitionCols.isEmpty) compact(None)
    else compact(Some(frag.flatMap(_.get(partitionCols.head))))
    frag
  }

  /** Health-driven compaction — the `meta_health` loop closed: rewrite
    * ONLY the partitions whose dead-row percentage (declared rows in the
    * log vs rows surviving the MoR merge) has reached `deadPct`. The
    * declared side is metadata-only; the live side is ONE grouped MoR
    * scan (a real scheduler amortizes it into the rewrite, which re-scans
    * those partitions anyway). Returns the partition values selected;
    * when none qualify NOTHING is staged. Targets the current spec's
    * first transform (the same addressing [[compact]] uses); files from
    * older spec epochs lacking that field are left alone. */
  def compactDirty(deadPct: Int): Seq[String] = {
    requireCreated("compactDirty()")
    require(stagedOps == 0, "commit staged work before compactDirty()")
    require(deadPct >= 1 && deadPct <= 100, s"deadPct in [1,100], got $deadPct")
    require(transforms.headOption.exists(_.isIdentity),
      "compactDirty targets identity partition specs")
    val pname = transforms.head.partName
    val st = lineage(log.load())
    val declared: Map[String, Long] = st.dataFiles
      .flatMap(f => f.partition.get(pname).map(_ -> f.recordCount))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val live: Map[String, Long] =
      lineageRead(st.snapshots.lastOption.map(_.id))
        .groupBy(col(pname)).count().collect()
        .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    val dirty = declared.collect {
      case (p, d) if d > 0 &&
        (d - live.getOrElse(p, 0L)) * 100 / d >= deadPct => p
    }.toSeq.sorted
    if (dirty.nonEmpty) compact(Some(dirty))
    dirty
  }

  /** Consolidate accumulated POSITION-delete files (the Iceberg
    * `rewrite_position_delete_files` maintenance action): per partition
    * scope, every group of ≥2 surviving pos-delete files is read once
    * (plain (file_path, pos) schema — robust across schema epochs, and the
    * only columns the scan path consults), deduped on (file_path, pos),
    * re-sorted, and rewritten as ONE delete file; the old files are
    * removed in the same rewrite snapshot. After thousands of delete waves
    * a 100 TB table's scan plans carry thousands of tiny tombstone files —
    * this collapses them to one per partition, dedupes repeated
    * tombstones, and tightens the per-file referenced-path bounds the
    * delete-file pruner uses.
    *
    * Sequence-number soundness: the consolidated file commits at the
    * group's MAX seq. A positional tombstone names a physical row
    * (path, pos), and a tombstone only references paths inside its own
    * partition scope; any rewrite that removes a data file removes that
    * partition's delete files in the same snapshot, so no surviving
    * tombstone can reference a path whose name was freed and re-used by a
    * LATER (higher-seq) data file. Hence raising an older tombstone's seq
    * to the group max cannot widen its kill window — `_d_seq >= row seq`
    * matches exactly the rows it matched before. (Equality deletes have no
    * such rewrite: their kill window [0, seq) is semantic, so merging
    * different-seq eq files would resurrect or re-kill interleaved
    * appends — they are deliberately left alone.) */
  def compactPositionDeletes(): this.type = {
    requireCreated("compactPositionDeletes()")
    val st = lineage(log.load())
    val groups = st.deleteFiles.filter(_.kind == "pos")
      .groupBy(_.partition).toSeq
      .filter(_._2.size >= 2)
      .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
    if (groups.isEmpty) return this // nothing staged — callers can skip commit
    nextOpSeq(rewrite = true) // rewrite-transaction guard + operation stamp
    for ((partition, fs) <- groups) {
      val tombstones = spark.read
        .schema(StructType(Seq(StructField("file_path", StringType),
          StructField("pos", LongType))))
        .parquet(fs.map(_.path): _*)
        .dropDuplicates("file_path", "pos")
      val target = deleteFileTarget("delete", partition)
      val w = writeFile(
        tombstones.repartition(1).sortWithinPartitions("file_path", "pos"),
        target, posDeleteStats)
      stagedDeletes :+= DeleteFileEntry(target.toString, partition, "pos",
        Nil, Nil, fs.map(_.seq).max, metrics = w.metrics)
      stagedRemovedDeletes ++= fs.map(_.path)
    }
    this
  }

  /** Deletion vectors (Iceberg v3's position-delete replacement): fold
    * every positional-delete file — and any vectors from a previous fold —
    * into ONE file per partition holding, per referenced data file, a
    * packed bitset of its deleted positions
    * (`file_path, words: array<bigint>, cardinality`). Word `w` bit `b`
    * set ⇔ position `w*64 + b` is deleted.
    *
    * Why this is the 100 TB shape: the tombstone representation makes the
    * scan anti-join on `(file_path, pos)` with one BUILD ROW PER DELETED
    * ROW — at a 1% delete rate over 100 TB that side is 10^9+ rows through
    * a shuffle. A vector is one row per data FILE (bitmap bytes ≤
    * rowcount/8), so the scan applies deletes with a broadcast-size join
    * and a codegen'd shift-and-mask per row ([[graft.read.MorReader]]).
    *
    * Construction is distributed: tombstones shuffle once on `file_path`
    * and [[graft.functions.BitsetAgg]] builds each file's bitmap with
    * map-side partial aggregation (partial bitmaps OR together), so the
    * shuffle carries one bitmap per (file × map task), not every
    * tombstone. Per-group memory is one file's bitset — bounded by file
    * row count, never by table size.
    *
    * Each fold consumes ALL pos + dv entries of its partition, so at most
    * one vector file per partition exists afterwards and every data file
    * is referenced by at most one vector row — the read path relies on
    * that uniqueness (a duplicate row would duplicate survivors through
    * the join). Sequence semantics need no care here: vectors address
    * files by PATH, paths are never reused, and a file appended after the
    * fold can't appear in any folded tombstone. New `positionalDelete` /
    * `equalityDelete` files written later coexist with the vector (union
    * of dead rows, like Iceberg v2 readers on v3 tables); the next fold
    * absorbs them. Commits as a rewrite ("replace"): no logical change,
    * invisible to the changelog, time travel to pre-fold snapshots still
    * sees the original tombstone files. */
  def rewritePositionDeletesToDVs(): this.type = {
    requireCreated("rewritePositionDeletesToDVs()")
    val st = lineage(log.load())
    val groups = st.deleteFiles.filter(f => f.kind == "pos" || f.kind == "dv")
      .groupBy(_.partition).toSeq
      .filter(_._2.exists(_.kind == "pos")) // a lone vector is already folded
      .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
    if (groups.isEmpty) return this // nothing staged — callers can skip commit
    nextOpSeq(rewrite = true)
    for ((partition, fs) <- groups) {
      val (oldDvs, poss) = fs.partition(_.kind == "dv")
      val fresh = spark.read
        .schema(StructType(Seq(StructField("file_path", StringType),
          StructField("pos", LongType))))
        .parquet(poss.map(_.path): _*)
        .select(col("file_path"), col("pos"))
      stageMergedVector(partition, fresh, oldDvs, fs.map(_.seq).max)
      stagedRemovedDeletes ++= poss.map(_.path)
    }
    this
  }

  /** Convert every EQUALITY delete into deletion-vector entries (the
    * Iceberg convert-equality-deletes maintenance action): compute the
    * exact (file, position) set the eq files kill — the difference
    * between the merge WITHOUT them and the full merge, so sequence
    * visibility and partition scoping are inherited from the read path
    * itself, never re-implemented — then OR those positions into each
    * affected partition's single vector and drop the eq files.
    *
    * Why a 100 TB table wants this: every eq-delete file adds an
    * anti-join against the scan keyed on the equality columns; a table
    * ingesting upserts all day accumulates hundreds of them, and the
    * read pays all of them forever. Conversion is EXACT with no
    * semantic drift: strict-seq visibility means an eq delete can never
    * apply to files appended after it, so the kill set is fully
    * determined at conversion time. Commits as a rewrite ("replace") —
    * changelog-invisible, time travel still sees the eq files. */
  def rewriteEqualityDeletes(): this.type = {
    requireCreated("rewriteEqualityDeletes()")
    val st = lineage(log.load())
    val eqs = st.deleteFiles.filter(_.kind == "eq")
    if (eqs.isEmpty) return this // nothing staged — callers can skip commit
    nextOpSeq(rewrite = true)
    val noEq = st.copy(snapshots = st.snapshots.map(s =>
      s.copy(deleteFiles = s.deleteFiles.filterNot(_.kind == "eq"))))
    val fp = MorReader.FilePathCol
    val pos = MorReader.PosCol
    val withoutEq = MorReader.withMeta(spark, noEq, schema, Map.empty)
      .select(col(fp), col(pos))
    val full = MorReader.withMeta(spark, st, schema, Map.empty)
      .select(col(fp), col(pos))
    // one materialization; per-partition filters below re-read it
    val deadByEq = withoutEq.join(full, Seq(fp, pos), "left_anti")
      .localCheckpoint()
    val partOf = st.dataFiles.map(f => f.path -> f.partition).toMap
    val affected = deadByEq.select(fp).distinct().collect()
      .map(_.getString(0)).flatMap(partOf.get).distinct
      .sortBy(_.toSeq.sortBy(_._1).mkString(","))
    val maxSeq = eqs.map(_.seq).max
    for (partition <- affected) {
      val paths = partOf.collect {
        case (p, pt) if pt == partition => p }.toSeq
      val tomb = deadByEq.where(col(fp).isin(paths: _*))
        .select(col(fp).as("file_path"), col(pos).as("pos"))
      stageMergedVector(partition, tomb,
        st.deleteFiles.filter(f => f.kind == "dv" && f.partition == partition),
        maxSeq)
    }
    stagedRemovedDeletes ++= eqs.map(_.path)
    this
  }

  /** Stage ONE merged deletion vector for `partition`: fresh tombstone
    * rows `(file_path, pos)` aggregated into per-file bitmaps
    * ([[graft.functions.BitsetAgg]], map-side partial OR), then OR-merged
    * with `oldDvs`' bitmaps (zero-padded `zip_with`). Consumes any vector
    * already STAGED for the partition in this transaction (two deletes in
    * one commit must still leave at most one vector row per data file —
    * the read path's uniqueness invariant) and registers the replaced
    * committed vectors as removed. */
  private def stageMergedVector(partition: Map[String, String],
                                freshTombstones: DataFrame,
                                oldCommitted: Seq[DeleteFileEntry],
                                seq: Long): Unit = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val (stagedOld, keepStaged) = stagedDeletes.partition(f =>
      f.kind == "dv" && f.partition == partition)
    stagedDeletes = keepStaged
    val oldDvs = oldCommitted ++ stagedOld
    val fresh = freshTombstones
      .groupBy("file_path")
      .agg(call_function("bitset_agg", col("pos")).as("words"))
    val merged =
      if (oldDvs.isEmpty) fresh
      else {
        val prev = spark.read
          .schema(StructType(Seq(StructField("file_path", StringType),
            StructField("words", ArrayType(LongType)),
            StructField("cardinality", LongType))))
          .parquet(oldDvs.map(_.path): _*)
          .select("file_path", "words")
        // bitmap OR with zero-padding to the longer word array
        def pad(a: Column, b: Column): Column =
          concat(a, array_repeat(lit(0L), greatest(size(b) - size(a), lit(0))))
        fresh.as("n").join(prev.as("o"), Seq("file_path"), "full_outer")
          .select(col("file_path"),
            when(col("n.words").isNull, col("o.words"))
              .when(col("o.words").isNull, col("n.words"))
              .otherwise(zip_with(pad(col("n.words"), col("o.words")),
                pad(col("o.words"), col("n.words")), _ bitwiseOR _))
              .as("words"))
      }
    val rows = merged.withColumn("cardinality",
      expr("aggregate(words, 0L, (acc, w) -> acc + bit_count(w))"))
    val target = deleteFileTarget("dv", partition)
    val w = writeFile(rows.repartition(1).sortWithinPartitions("file_path"), target,
      posDeleteStats)
    stagedDeletes :+= DeleteFileEntry(target.toString, partition, "dv",
      Nil, Nil, seq, metrics = w.metrics)
    stagedRemovedDeletes ++= oldCommitted.map(_.path)
  }

  /** Sorted compaction (the Iceberg `rewrite_data_files` with a sort
    * order): per selected partition, materialize the MoR-merged live rows
    * SORTED by `sortCol` and split into files of `rowsPerFile` contiguous
    * rows. Because each rewritten file covers a disjoint `sortCol` range,
    * the per-file min/max metrics in the snapshot log become
    * non-overlapping — a later `readRange` on that column opens exactly
    * the files whose range intersects the predicate, the layout that
    * makes metrics pruning maximally effective at 100 TB.
    *
    * The global order comes from [[graft.operators.Ops.withGlobalIndex]]
    * (sampled range exchange + per-partition offsets — never a
    * single-partition window); the per-file write loop mirrors the
    * reference's exact-file-count contract (a production rewrite would
    * `repartitionByRange(n)` and emit all files in one job).
    */
  def compactSorted(sortCol: String, rowsPerFile: Int,
                    partitionValues: Option[Seq[Any]] = None): this.type = {
    val opSeq = nextOpSeq(rewrite = true)
    rewriteOrdered(_ => col(sortCol), rowsPerFile, partitionValues, opSeq)
    this
  }

  /** Z-ORDER compaction (the Iceberg/Delta `zorder` rewrite): the merged
    * live rows are laid out along a space-filling curve over SEVERAL
    * columns, so range/equality reads on ANY of them prune files from the
    * log's per-file metrics — the multi-dimensional generalization of
    * [[compactSorted]], and at 100 TB the layout that serves mixed query
    * patterns without duplicating the data per sort key.
    *
    * The curve value interleaves the bits of each column's QUANTILE-BUCKET
    * rank: per column, `2^bits − 1` approximate-quantile boundaries
    * (driver-side metadata math — the sampling pass every production
    * z-order pays) turn the value into a rank ∈ [0, 2^bits) via a
    * codegen'd boundary-count expression; ranks interleave bit-by-bit into
    * one long, and the rewrite orders by it through the same sampled range
    * exchange as the sorted rewrite (never a single-partition window).
    * Quantile ranks (not raw bits) keep the curve balanced under ANY value
    * distribution — skewed columns still split evenly. NULLs rank 0. */
  def compactZOrder(zCols: Seq[String], rowsPerFile: Int,
                    partitionValues: Option[Seq[Any]] = None,
                    bits: Int = 8): this.type = {
    require(zCols.size >= 2, "z-order needs >= 2 columns (compactSorted for 1)")
    require(zCols.size * bits <= 62, s"zCols*bits must fit a long, got ${zCols.size}*$bits")
    zCols.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.nonEmpty, s"no column $c")
      require(f.get.dataType.isInstanceOf[NumericType],
        s"z-order column $c must be numeric (quantile-rank interleave)")
    }
    val opSeq = nextOpSeq(rewrite = true)
    val nB = (1 << bits) - 1
    val probs = (1 to nB).map(_.toDouble / (1 << bits)).toArray
    rewriteOrdered({ merged =>
      zCols.zipWithIndex.map { case (c, j) =>
        // boundaries are deliberately NOT distinct-ed: a low-cardinality
        // column repeats boundary values, and counting the duplicates is
        // what stretches its rank over the full [0, 2^bits) width so its
        // high bits still participate in the interleave (distinct-ing
        // them once collapsed a 5-value column to ranks 1..5 — invisible
        // next to a full-range sibling, spec-caught)
        val bnds = merged.stat.approxQuantile(c, probs, 0.001)
        // rank = number of boundaries <= value (NULL compares null → 0)
        val bucket = aggregate(array(bnds.map(lit): _*), lit(0),
          (acc, b) => acc + when(col(c).cast("double") >= b, 1).otherwise(0))
        (0 until bits).map(i =>
          shiftright(bucket, i).bitwiseAND(lit(1)).cast("long") *
            lit(1L << (i * zCols.size + j)))
          .reduce(_ + _)
      }.reduce(_ + _)
    }, rowsPerFile, partitionValues, opSeq)
    this
  }

  /** Shared core of the ordered rewrites: per selected partition,
    * materialize the MoR-merged live rows ONCE (localCheckpoint — the
    * order expression may run stats passes over it, and the range
    * exchange samples it), globally index them by `orderOf`'s column via
    * [[graft.operators.Ops.withGlobalIndex]], and emit `rowsPerFile`
    * contiguous rows per file so per-file metrics cover disjoint order
    * ranges. */
  private def rewriteOrdered(orderOf: DataFrame => Column, rowsPerFile: Int,
                             partitionValues: Option[Seq[Any]],
                             opSeq: Long): Unit = {
    val st = lineage(log.load())
    for ((partition, files) <- plannedPartitions(partitionValues)) {
      val groupPaths = files.map(_.path).toSet
      val restricted = st.copy(snapshots = st.snapshots.map(s =>
        s.copy(dataFiles = s.dataFiles.filter(f => groupPaths(f.path)))))
      // rows keep their original ids, as in [[compact]]
      val lineageCols = Seq(col(MorReader.RowIdCol), col(MorReader.LastSeqCol))
      val merged = MorReader.withMeta(spark, restricted, schema, Map.empty)
        .select(schema.names.map(col) ++ lineageCols: _*)
        .localCheckpoint()
      val indexed = graft.operators.Ops
        .withGlobalIndex(merged, Seq(orderOf(merged)), "_cidx")
        .localCheckpoint() // one materialization; N slice filters below
      val rows = indexed.count()
      val nFiles = math.max(1, math.ceil(rows.toDouble / rowsPerFile).toInt)
      val partitionString = partitionDirName(partition)
      for (i <- 0 until nFiles) {
        val slice = indexed
          .where(col("_cidx") >= i.toLong * rowsPerFile &&
            col("_cidx") < (i + 1).toLong * rowsPerFile)
          .sortWithinPartitions("_cidx")
        val target =
          if (partitionString.nonEmpty)
            uniqueNumberedFile(dataDir.resolve(partitionString),
              s"$partitionString-%02d.parquet")
          else uniqueNumberedFile(dataDir, "%02d.parquet")
        val w = writeFile(slice.select(schema.names.map(col) ++ lineageCols: _*),
          target, dataStats)
        stagedData :+= DataFileEntry(target.toString, partition, specId, schemaV,
          opSeq, w.rows, metrics = w.metrics, lineageInFile = true)
      }
      stagedRemovedData ++= files.map(_.path)
      stagedRemovedDeletes ++=
        st.deleteFiles.filter(_.partition == partition).map(_.path)
    }
  }

  /** Snapshot expiry (the remaining Iceberg maintenance op): drop history
    * older than `keepLast` snapshots and DELETE files that are no longer
    * reachable from any retained snapshot (compaction leftovers). Retained
    * snapshots are rebased into one baseline snapshot + the recent tail,
    * so current reads and time travel within the retained window are
    * unchanged; travel past the horizon is gone by design.
    */
  def expireSnapshots(keepLast: Int): this.type = {
    require(stagedOps == 0, "commit staged work before expiring snapshots")
    val st = log.load()
    val mains = st.snapshots.filter(_.branch == "main")
    if (mains.size <= keepLast) return this
    // BRANCH-AWARE retention (Iceberg ref-retention semantics): a live
    // branch reads main history up to its fork, so the expiry horizon
    // clamps to the EARLIEST live fork — fork prefixes a branch still
    // travels through are never folded away; everything older expires
    // normally. Branch snapshots themselves (ids > their fork >= horizon)
    // are always retained.
    val liveForks = log.refs.collect {
      case (name, snap) if name.startsWith("branch:") => snap
    }
    val horizon = (mains(mains.size - keepLast - 1).id +: liveForks.toSeq).min
    val base = st.mainOnly.asOf(horizon)
    if (base.snapshots.size <= 1 &&
        base.snapshots.headOption.forall(_.id == horizon)) return this
    // files live at the horizon — everything else written before it is orphaned
    val liveData = base.dataFiles
    val liveDeletes = base.deleteFiles
    val livePaths = (liveData.map(_.path) ++ liveDeletes.map(_.path)).toSet
    val orphaned = (base.snapshots.flatMap(_.dataFiles).map(_.path) ++
      base.snapshots.flatMap(_.deleteFiles).map(_.path))
      .filterNot(livePaths).distinct
    // the rebased baseline re-expresses rows that already existed →
    // "replace"; it inherits the horizon snapshot's commit timestamp so
    // asOfTime() within the retained window resolves exactly as before
    val baseline = Snapshot(horizon, base.snapshots.last.seq,
      base.currentSchemaV, base.currentSpecId, liveData, liveDeletes,
      timestampMs = base.snapshots.last.timestampMs, operation = "replace",
      // carry the row-id counter: ids of expired-dead rows stay retired
      nextRowId = base.snapshots.map(_.nextRowId).max)
    val tail = st.snapshots.filter(_.id > horizon)
    log.rewrite(baseline +: tail)
    orphaned.foreach(p => Files.deleteIfExists(Paths.get(p)))
    // superseded ANALYZE stats files ride along with history expiry:
    // TableStats.read only ever consults the newest, so older
    // generations are unreadable garbage once the history caps
    val statsFiles = listDir(tableDir.resolve("metadata"))
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("stats-") && n.endsWith(".json")
      }
    if (statsFiles.size > 1) {
      val newest = statsFiles.map(_.getFileName.toString
        .stripPrefix("stats-").stripSuffix(".json").toLong).max
      statsFiles.filterNot(_.getFileName.toString ==
        s"stats-$newest.json").foreach(Files.deleteIfExists(_))
    }
    this
  }

  /** The steady-state table-maintenance job — what a production scheduler
    * runs beside continuous ingest (Iceberg's rewrite_data_files +
    * convert_equality_deletes + rewrite_position_delete_files +
    * expire_snapshots + remove_orphan_files, in that order):
    * policy-compact fragmented partitions, convert accumulated eq
    * deletes into the partition vectors, fold pos tombstones into the
    * same vectors, cap history, GC strays, and refresh the ANALYZE
    * statistics so readHinted keeps trusting them. Each step commits its
    * OWN snapshot and stages nothing when there is nothing to do; pair
    * with [[commitWithRetry]]-based ingest — a conflicting writer costs
    * the ingester one refresh, never a lost batch (StreamingSpec's race
    * test shape). */
  def maintain(minFragFiles: Int = 4, keepLast: Int = 5,
               orphanGraceMs: Long = 3600L * 1000,
               refreshStats: Boolean = false): this.type = {
    require(stagedOps == 0, "commit staged work before maintain()")
    if (compactFragmented(minFragFiles).nonEmpty) commit()
    rewriteEqualityDeletes()
    if (stagedOps > 0) commit()
    rewritePositionDeletesToDVs()
    if (stagedOps > 0) commit()
    expireSnapshots(keepLast)
    removeOrphanFiles(orphanGraceMs)
    if (refreshStats) analyze()
    this
  }

  /** Age-based history expiry (Iceberg `expireSnapshots(olderThan)` —
    * retention policy by TIME, the production maintenance contract: "keep
    * N days of time travel"): drop snapshots committed before
    * `clock() - maxAgeMs`, always retaining at least the current one.
    * Snapshot timestamps are stamped by this generator's monotonic clock
    * at commit, so the retained set is a suffix and the rebase semantics
    * are exactly [[expireSnapshots]]'s. */
  def expireSnapshotsOlderThan(maxAgeMs: Long): this.type = {
    val cutoff = clock() - maxAgeMs
    val keep = log.load().snapshots.count(_.timestampMs >= cutoff)
    expireSnapshots(math.max(keep, 1))
  }

  /** Physical GC of files NO retained snapshot references (the Iceberg
    * `remove_orphan_files` action): walks `data/`, subtracts every path
    * any retained snapshot still references (time travel included) plus
    * this writer's staged-but-uncommitted files, and deletes the rest —
    * abandoned transactions' leftovers (the reference's S6 abandons a
    * 10k×10k delete file on disk) and crashed writers' partial output.
    * [[expireSnapshots]] only removes files its own horizon orphans; it
    * never looks at the directory, so genuine strays otherwise live
    * forever — at 100 TB, paying storage for data no query can reach.
    *
    * `graceMs` protects CONCURRENT writers mid-stage (their files are on
    * disk but in no log yet): only files whose mtime predates
    * `clock() - graceMs` are eligible. Run with a grace comfortably above
    * the longest stage-to-commit window (Iceberg's action defaults to 3
    * days). Purely physical — no snapshot is written and reads before and
    * after are identical. Returns the deleted paths. */
  def removeOrphanFiles(graceMs: Long = 0L): Seq[String] = {
    val orphans = listOrphanFiles(graceMs)
    orphans.foreach(p => Files.deleteIfExists(Paths.get(p)))
    orphans
  }

  /** The DRY-RUN half of [[removeOrphanFiles]] (Iceberg's
    * `remove_orphan_files(dry_run => true)`): the orphan list, nothing
    * deleted — what an operator inspects before a destructive GC. */
  def listOrphanFiles(graceMs: Long = 0L): Seq[String] = {
    requireCreated("listOrphanFiles()")
    val st = log.load()
    val referenced = (st.snapshots.flatMap(s =>
      s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path)) ++
      stagedData.map(_.path) ++ stagedDeletes.map(_.path)).toSet
    val cutoff = clock() - graceMs
    val orphans = scala.collection.mutable.ArrayBuffer[Path]()
    if (Files.exists(dataDir)) {
      val walk = Files.walk(dataDir)
      try walk.forEach { p =>
        if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
            && !referenced(p.toString)
            && Files.getLastModifiedTime(p).toMillis <= cutoff)
          orphans += p
      } finally walk.close()
    }
    orphans.map(_.toString).toSeq
  }

  /** Count of staged-but-uncommitted operations (maintenance callers use
    * it to skip an empty commit when a rewrite found nothing to do). */
  def staged: Int = stagedOps

  /** Roll the table back to a committed snapshot (the Iceberg
    * `rollback_to_snapshot` procedure): later snapshots leave the history,
    * files only they reference are deleted, and refs that pointed into the
    * dropped window are removed. Time travel into the dropped window is
    * gone by design; the retained history is unchanged. The generator
    * re-syncs ([[refresh]]) so the next commit continues from the
    * rollback point. */
  def rollbackTo(snapshotId: Long): this.type = {
    requireCreated("rollbackTo()")
    require(stagedOps == 0, "commit or refresh() away staged work before rollback")
    val st = log.load()
    require(st.snapshots.exists(_.id == snapshotId),
      s"no committed snapshot $snapshotId to roll back to")
    val keep = st.snapshots.filter(_.id <= snapshotId)
    val keepPaths = (keep.flatMap(_.dataFiles).map(_.path) ++
      keep.flatMap(_.deleteFiles).map(_.path)).toSet
    val dropped = st.snapshots.filter(_.id > snapshotId)
    val orphans = (dropped.flatMap(_.dataFiles).map(_.path) ++
      dropped.flatMap(_.deleteFiles).map(_.path))
      .filterNot(keepPaths).distinct
    log.rewrite(keep)
    log.refs.filter(_._2 > snapshotId).keys.foreach(log.removeRef)
    orphans.foreach(p => Files.deleteIfExists(Paths.get(p)))
    refresh()
  }

  /** Write-audit-publish: stage + commit (through the conflict-retry
    * loop), AUDIT the committed state, and roll the commit back if the
    * audit rejects it — the WAP ingestion pattern (bad batches never
    * become durable history). Returns true iff the commit survived.
    * The audit window assumes no OTHER writer commits between publish
    * and audit (rollback drops everything after the pre-commit snapshot);
    * multi-writer WAP is a branch-level pattern this linear log does not
    * model. */
  def commitAudited(stage: GraftTableGenerator => Unit)
                   (audit: DataFrame => Boolean): Boolean = {
    val before = committedSnapId
    commitWithRetry()(stage)
    if (audit(read)) true
    else { rollbackTo(before); false }
  }

  /** One snapshot per commit (reference `IcebergTableGenerator.java:375-379`).
    * The log enforces optimistic concurrency: a stale writer (another
    * process advanced the table since this generator loaded it) gets a
    * [[graft.meta.CommitConflictException]] and NOTHING here mutates —
    * the generator can reload and re-stage. */
  def commit(): this.type = commit(Map.empty[String, String])

  /** Commit with snapshot SUMMARY properties (the Iceberg snapshot-summary
    * map): arbitrary key→value metadata persisted atomically WITH the
    * snapshot — e.g. the streaming sink's exactly-once batch-id gate,
    * which must not be observable separately from the commit it guards. */
  def commit(summary: Map[String, String]): this.type = {
    requireCreated("commit()")
    // one snapshot = one operation, derived from what was staged (Iceberg
    // operation kinds): a rewrite re-expresses existing rows ("replace");
    // data+deletes together is an upsert ("overwrite")
    val operation =
      if (stagedHasRewrite) "replace"
      else if (stagedData.nonEmpty &&
        (stagedDeletes.nonEmpty || stagedRemovedData.nonEmpty)) "overwrite"
      else if (stagedDeletes.nonEmpty || stagedRemovedData.nonEmpty) "delete"
      else "append"
    log.commit(Snapshot(committedSnapId + 1, committedSeq + stagedOps, schemaV,
      specId, stagedData, stagedDeletes, stagedRemovedData, stagedRemovedDeletes,
      timestampMs = clock(), operation = operation, branch = activeBranch,
      summary = summary))
    committedSnapId += 1
    committedSeq += stagedOps
    stagedOps = 0; stagedData = Vector.empty; stagedDeletes = Vector.empty
    stagedRemovedData = Vector.empty; stagedRemovedDeletes = Vector.empty
    stagedHasUserWrite = false; stagedHasRewrite = false
    this
  }

  /** Attach to an EXISTING table as a second writer (the maintenance
    * shape: a compaction/expiry job running beside a streaming ingester).
    * Loads schema / partition spec / snapshot position from the log.
    * Generated-bundle appends stay DISABLED on an opened generator — the
    * log does not record the row-id counter, so re-generating ids would
    * restart at 0 and corrupt id monotonicity (the reason a bare reopen
    * fails fast). DataFrame writes (upsert, deletes, appendBulk),
    * compaction, expiry, and tags — none of which mint generator ids —
    * are the opened surface. Conflicts with the other writer surface as
    * [[graft.meta.CommitConflictException]] at commit; see [[refresh]].
    */
  def open(): this.type = {
    require(!created, s"table $name: open() on an already-active generator")
    require(Files.exists(tableDir.resolve("metadata")),
      s"table $name does not exist — open() attaches to committed tables only")
    nextId = -1L // poison generated-id appends (claimIds)
    created = true
    sortOrderCols = loadWriteOrder()
    props = log.loadProperties()
    refresh()
  }

  /** Declare a table WRITE ORDER (Iceberg `write.sort-order`): every
    * subsequent append — per-file, appendData slices, and the distributed
    * appendBulk — lays rows out sorted on `cols` (bulk: range-partitioned
    * so each produced file covers a DISJOINT range). The point is the
    * manifest metrics: sorted ingest gives non-overlapping per-file
    * [min, max] envelopes from the first write, so range reads prune to
    * the few matching files WITHOUT ever paying a compactSorted rewrite —
    * at 100 TB, the difference between sorting on ingest (one shuffle you
    * were paying anyway) and re-clustering the table later. Persisted in
    * the table metadata; open()ed writers inherit it. */
  def writeOrdered(cols: String*): this.type = {
    requireCreated("writeOrdered()")
    cols.foreach(c => require(schema.names.contains(c), s"no column $c"))
    sortOrderCols = cols
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    val arr = root.putArray("cols")
    cols.foreach(arr.add)
    Files.writeString(tableDir.resolve("metadata").resolve("write-order.json"),
      m.writeValueAsString(root))
    this
  }

  private def loadWriteOrder(): Seq[String] = {
    val p = tableDir.resolve("metadata").resolve("write-order.json")
    if (!Files.exists(p)) Nil
    else {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(p))
      import scala.jdk.CollectionConverters._
      n.get("cols").elements().asScala.map(_.asText).toSeq
    }
  }

  /** Apply the declared write order to rows about to become ONE file. */
  private def ordered(df: DataFrame): DataFrame =
    if (sortOrderCols.isEmpty) df else df.sort(sortOrderCols.map(col): _*)

  /** Re-sync with the table's committed state after another writer
    * advanced it — the [[graft.meta.CommitConflictException]] recovery
    * path the commit() contract promises. Discards ALL staged work (it
    * was built against the stale state: its sequence numbers are wrong
    * under the new history — already-written staged files stay on disk
    * as unreferenced orphans, exactly like an aborted Iceberg commit)
    * and reloads snapshot id / sequence / schema / partition spec from
    * the log. Uncommitted updateSchema/updateSpec calls are likewise
    * discarded and must be re-applied. */
  def refresh(): this.type = {
    requireCreated("refresh()")
    val st = log.load()
    if (st.snapshots.nonEmpty || st.schemas.nonEmpty) {
      schemaV = st.currentSchemaV
      schema = st.schemas(schemaV)
      specId = st.currentSpecId
      partitionCols = st.specs.getOrElse(specId, Nil)
    }
    committedSnapId = st.snapshots.lastOption.map(_.id).getOrElse(0L)
    committedSeq = st.snapshots.lastOption.map(_.seq).getOrElse(0L)
    stagedOps = 0; stagedData = Vector.empty; stagedDeletes = Vector.empty
    stagedRemovedData = Vector.empty; stagedRemovedDeletes = Vector.empty
    stagedHasUserWrite = false; stagedHasRewrite = false
    this
  }

  /** Stage-and-commit with optimistic-concurrency retry: `stage` runs
    * against the generator's current view, commit() publishes; on a
    * [[graft.meta.CommitConflictException]] the staged attempt is
    * discarded ([[refresh]]) and `stage` re-runs against the refreshed
    * state — the Iceberg commit-retry loop. `stage` must therefore be
    * re-runnable (pure staging calls; the engine's write ops all are). */
  def commitWithRetry(maxAttempts: Int = 5)(stage: GraftTableGenerator => Unit): this.type = {
    var attempt = 0
    while (true) {
      attempt += 1
      stage(this)
      try { commit(); return this }
      catch {
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          refresh()
      }
    }
    this
  }

  /** MoR read of the committed table (the active lineage: main, or the
    * branch [[writeTo]] routed to). */
  def read: DataFrame =
    if (activeBranch == "main") MorReader.read(spark, tableDir.toString)
    else MorReader.readBranch(spark, tableDir.toString, activeBranch)
  def readAt(snapshotId: Long): DataFrame =
    MorReader.readAt(spark, tableDir.toString, snapshotId)

  // ---- branches (Iceberg writable-branch surface) ----------------------

  /** Create a writable branch forked at the current MAIN head (Iceberg
    * `createBranch`). Recorded as ref `branch:<name>` → fork snapshot id;
    * subsequent [[writeTo]] commits stamp their snapshots with the branch
    * name, invisible to main reads until [[fastForward]]. */
  def createBranch(branchName: String, asOfVersion: Long = -1L): this.type = {
    requireCreated("createBranch()")
    require(branchName != "main" && branchName.nonEmpty, "invalid branch name")
    require(!log.refs.contains(s"branch:$branchName"),
      s"branch '$branchName' already exists")
    val mainSnaps = log.load().mainOnly.snapshots
    val fork =
      if (asOfVersion >= 0) {
        require(mainSnaps.exists(_.id == asOfVersion),
          s"unknown main snapshot $asOfVersion for branch fork")
        asOfVersion
      } else mainSnaps.lastOption.map(_.id).getOrElse(0L)
    log.setRef(s"branch:$branchName", fork)
    this
  }

  /** Repoint an EXISTING branch ref (`REPLACE BRANCH … AS OF VERSION v`).
    * A branch that has written its OWN snapshots is repointed by
    * orphaning them through the same rewrite+reclaim discipline as
    * [[dropBranch]]: the branch's snapshots leave the log, and their
    * exclusively-referenced files are physically reclaimed (a file also
    * referenced by a surviving lineage — e.g. one the branch picked up
    * via cherry-pick, or pre-fork history — stays). Main history and
    * time travel are untouched: the rewrite only removes snapshots
    * stamped with this branch's name. */
  def replaceBranch(branchName: String, asOfVersion: Long = -1L): this.type = {
    requireCreated("replaceBranch()")
    require(stagedOps == 0, "commit staged work before replaceBranch()")
    require(log.refs.contains(s"branch:$branchName"),
      s"unknown branch '$branchName'")
    val st = log.load()
    // validate the new fork point BEFORE any destructive rewrite — a
    // typo'd version must not orphan the branch's commits
    val mainSnaps = st.mainOnly.snapshots
    val fork =
      if (asOfVersion >= 0) {
        require(mainSnaps.exists(_.id == asOfVersion),
          s"unknown main snapshot $asOfVersion for branch fork")
        asOfVersion
      } else mainSnaps.lastOption.map(_.id).getOrElse(0L)
    val (dropped, keep) = st.snapshots.partition(_.branch == branchName)
    if (dropped.nonEmpty) {
      requireUnreferenced(branchName, dropped)
      val keepPaths = (keep.flatMap(_.dataFiles).map(_.path) ++
        keep.flatMap(_.deleteFiles).map(_.path)).toSet
      val orphans = (dropped.flatMap(_.dataFiles).map(_.path) ++
        dropped.flatMap(_.deleteFiles).map(_.path))
        .filterNot(keepPaths).distinct
      log.rewrite(keep)
      orphans.foreach(p => Files.deleteIfExists(Paths.get(p)))
      if (activeBranch == branchName) activeBranch = "main"
      refresh()
    }
    log.setRef(s"branch:$branchName", fork)
    this
  }

  /** Refuse to reclaim a branch's snapshots while ANOTHER ref (a tag, or
    * a branch forked onto one of them) still names one — the
    * immediate-reclaim model's stand-in for Iceberg's expiry rule that
    * ref-reachable snapshots never expire; deleting them would leave a
    * dangling ref whose data is gone. */
  private def requireUnreferenced(branchName: String,
                                  dropped: Seq[Snapshot]): Unit = {
    val ids = dropped.map(_.id).toSet
    val holders = log.refs.filter { case (name, id) =>
      name != s"branch:$branchName" && ids(id) }
    require(holders.isEmpty,
      s"branch '$branchName' snapshots are still referenced by " +
        s"${holders.keys.toSeq.sorted.mkString(", ")} — drop those refs first")
  }

  /** Route subsequent staged commits to a branch (or back to "main").
    * Branch writes see the branch lineage — main history up to the fork
    * plus the branch's own commits — for delete planning and compaction;
    * they must not evolve schema or partition spec (fast-forward would
    * have to reconcile divergent metadata — the documented restriction). */
  def writeTo(branchName: String): this.type = {
    requireCreated("writeTo()")
    require(stagedOps == 0, "commit staged work before switching branches")
    require(branchName == "main" || log.refs.contains(s"branch:$branchName"),
      s"unknown branch '$branchName' — createBranch() first")
    activeBranch = branchName
    this
  }

  /** Fork snapshot id of a branch. */
  def branchForkId(branchName: String): Long = {
    val refs = log.refs
    require(refs.contains(s"branch:$branchName"), s"unknown branch '$branchName'")
    refs(s"branch:$branchName")
  }

  /** MoR read of a branch's lineage. */
  def readBranch(branchName: String): DataFrame =
    MorReader.readBranch(spark, tableDir.toString, branchName)

  /** Fast-forward main to a branch head (Iceberg `fastForwardBranch`):
    * requires main has NOT advanced past the fork point (no divergence —
    * same contract as Iceberg's, which refuses a non-ancestor target).
    * The branch's snapshots are re-stamped onto the main lineage via a
    * history rewrite (this log's main is implicit, not a movable ref) and
    * the branch ref moves to the head it published. */
  def fastForward(branchName: String): this.type = {
    requireCreated("fastForward()")
    require(stagedOps == 0, "commit staged work before fastForward()")
    val fork = branchForkId(branchName)
    val st = log.load()
    val mainHead = st.snapshots.filter(_.branch == "main")
      .lastOption.map(_.id).getOrElse(0L)
    require(mainHead == fork,
      s"main advanced past fork $fork (head $mainHead) — cannot fast-forward " +
        s"'$branchName'; rebase/merge is not supported")
    val promoted = st.snapshots.map(s =>
      if (s.branch == branchName) s.copy(branch = "main") else s)
    log.rewrite(promoted)
    log.setRef(s"branch:$branchName",
      promoted.lastOption.map(_.id).getOrElse(fork))
    activeBranch = "main"
    refresh()
  }

  /** Cherry-pick a committed snapshot's file changes onto the CURRENT
    * branch head (Iceberg `cherrypick_snapshot` — the write-audit-publish
    * publish verb): the picked snapshot's added data/delete files are
    * re-registered as ONE new commit at the head's next sequence number.
    * The picked snapshot itself (typically on an audit branch) is
    * untouched — both lineages reference the same physical files, which
    * rollback/expiry/dropBranch already handle by path reference counting.
    * Row lineage is preserved: the files keep their assigned row ids (the
    * id counter is global across branches, so no reuse is possible).
    * Restrictions (same as Iceberg's): the picked snapshot must be a pure
    * add commit — rewrites ("replace") and removal-carrying commits do not
    * cherry-pick. */
  def cherrypick(snapshotId: Long): this.type = {
    requireCreated("cherrypick()")
    require(stagedOps == 0, "commit staged work before cherrypick()")
    val st = log.load()
    val s = st.snapshots.find(_.id == snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot $snapshotId"))
    require(s.operation != "replace" && s.removedDataFiles.isEmpty &&
      s.removedDeleteFiles.isEmpty,
      s"cherrypick: snapshot $snapshotId rewrites or removes files — " +
        "only pure add commits cherry-pick")
    val newSeq = committedSeq + 1
    log.commit(Snapshot(committedSnapId + 1, newSeq, schemaV, specId,
      s.dataFiles.map(_.copy(seq = newSeq)),
      s.deleteFiles.map(_.copy(seq = newSeq)),
      Nil, Nil, timestampMs = clock(), operation = s.operation,
      branch = activeBranch))
    committedSnapId += 1
    committedSeq = newSeq
    this
  }

  /** Drop a branch: remove the ref AND physically reclaim the branch's
    * snapshots and exclusively-referenced files (the same rewrite+delete
    * discipline as [[rollbackTo]]) — an unreferenced lineage must not
    * linger as unexpirable garbage. Freed snapshot ids are reusable by
    * later main commits, exactly like a rollback's dropped window. */
  def dropBranch(branchName: String): this.type = {
    requireCreated("dropBranch()")
    require(stagedOps == 0, "commit or refresh() away staged work before dropBranch")
    val stPre = log.load()
    requireUnreferenced(branchName,
      stPre.snapshots.filter(_.branch == branchName))
    log.removeRef(s"branch:$branchName")
    val st = log.load()
    val (dropped, keep) = st.snapshots.partition(_.branch == branchName)
    if (dropped.nonEmpty) {
      val keepPaths = (keep.flatMap(_.dataFiles).map(_.path) ++
        keep.flatMap(_.deleteFiles).map(_.path)).toSet
      val orphans = (dropped.flatMap(_.dataFiles).map(_.path) ++
        dropped.flatMap(_.deleteFiles).map(_.path))
        .filterNot(keepPaths).distinct
      log.rewrite(keep)
      orphans.foreach(p => Files.deleteIfExists(Paths.get(p)))
    }
    if (activeBranch == branchName) activeBranch = "main"
    refresh()
  }

  // ---- named refs (Iceberg tag surface) --------------------------------

  /** Tag a committed snapshot (default: the current one) with a stable
    * name — the Iceberg tag analog. Reads resolve it via
    * [[graft.read.MorReader.readRef]]. */
  def tag(name: String, snapshotId: Long = -1L): this.type = {
    requireCreated("tag()")
    // an explicit id must name a COMMITTED snapshot (same strictness as
    // createBranch) — a typo'd version would otherwise create a dangling
    // tag that time-travel reads only fail on much later
    if (snapshotId >= 0)
      require(log.load().snapshots.exists(_.id == snapshotId),
        s"unknown snapshot $snapshotId for tag '$name'")
    log.setRef(name, if (snapshotId < 0) committedSnapId else snapshotId)
    this
  }
  def removeTag(name: String): this.type = { log.removeRef(name); this }
  def tags: Map[String, Long] = log.refs

  // ---- internals -------------------------------------------------------

  /** Committed data files matching the partition filter, grouped by
    * partition and path-sorted within each group — the canonical order
    * (reference `orderFileScanTasksByPartitionAndPath`,
    * `IcebergTableGenerator.java:451-464`). */
  private def plannedPartitions(partitionValues: Option[Seq[Any]],
                                keep: DataFileEntry => Boolean = _ => true)
      : Seq[(Map[String, String], Seq[DataFileEntry])] = {
    val st = lineage(log.load())
    val preFiltered = partitionValues match {
      case Some(vs) =>
        val set = vs.map(_.toString).toSet
        // first CURRENT-spec field, like the reference's Expressions.in
        // (`:196-199`); files from older specs lacking the field are
        // skipped. Values are PARTITION values (post-transform for
        // non-identity specs — what the dirs and partition maps hold).
        val firstCol = transforms.head.partName
        st.dataFiles.filter(f => f.partition.get(firstCol).exists(set))
      case None => st.dataFiles
    }
    val filtered = preFiltered.filter(keep)
    GraftTableGenerator.deleteScanFilesPlanned.addAndGet(filtered.size)
    filtered.groupBy(_.partition).toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).map(_._2).mkString("-"))
      .map { case (p, fs) => (p, fs.sortBy(_.path)) }
  }

  /** Raw (delete-unaware) scan of given files with live-schema projection
    * plus (file_path, pos) service columns — the generator's read-back path
    * (reference `IcebergTableGenerator.java:249-257`). */
  private def rawScan(files: Seq[DataFileEntry]): DataFrame = {
    val st = log.load()
    files.groupBy(_.schemaV).toSeq.sortBy(_._1).map { case (v, fs) =>
      val epoch = st.schemas(v)
      val proj: Seq[Column] = schema.fields.map { f =>
        epoch.fieldById(f.id) match {
          case Some(old) => col(old.name).cast(f.dataType).as(f.name)
          case None => // initial default (Iceberg v3), like the MoR read —
            // so delete predicates over a defaulted column match old rows
            f.initialDefault.map(d => lit(d).cast(f.dataType))
              .getOrElse(lit(null).cast(f.dataType)).as(f.name)
        }
      }
      spark.read.schema(epoch.struct).parquet(fs.map(_.path): _*)
        .select(proj :+ MorReader.normPath(col("_metadata.file_path"))
          .as(MorReader.FilePathCol)
          :+ col("_metadata.row_index").as(MorReader.PosCol): _*)
    }.reduce(_.unionByName(_))
  }

  // ---- file-level column metrics (reference `withMetrics(appender.metrics())`,
  // `IcebergTableGenerator.java:420,445`) --------------------------------

  /** Schema fields eligible for metrics: the first
    * [[GraftTableGenerator.MetricsMaxCols]] with comparable types (Iceberg's
    * `write.metadata.metrics.max-inferred-column-defaults` analog — a
    * 1000-col table must not pay 3000 aggregates per file). */
  private def metricFields: Seq[GraftField] =
    schema.fields.take(GraftTableGenerator.MetricsMaxCols)
      .filter(f => GraftTableGenerator.metricsSupported(f.dataType))

  /** Bloom columns from the persisted `write.bloom.columns` table property
    * (comma-separated) — the SQL route to manifest-level Bloom filters
    * (`CREATE TABLE ... TBLPROPERTIES ('write.bloom.columns'='id')`, or
    * ALTER ... SET later): every writer, including catalog INSERTs from a
    * fresh open(), picks them up from table metadata with no API call. */
  private def propBloomCols: Set[String] =
    props.get("write.bloom.columns").iterator
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet

  /** Stats columns of a data file: every [[metricFields]] column, with the
    * Bloom bitset where enabled ([[withBloomFilters]] or the
    * `write.bloom.columns` property) and the type supports it. */
  private def dataStats: Seq[StatCol] = {
    val bloomOn = bloomCols ++ propBloomCols
    metricFields.map(f => StatCol(f.id, f.name, f.dataType,
      bloom = bloomOn(f.name) && BloomFilter.supported(f.dataType)))
  }

  /** A positional or vector delete file's referenced-path bounds — the
    * stats that let the planner skip delete files a pruned scan cannot
    * touch. */
  private val posDeleteStats =
    Seq(StatCol(DeleteFileEntry.PathFieldId, "file_path", StringType))

  /** [[writeDeleteFiles]]' per-row partition index, and the scan position
    * it orders rows by when no column order is given (not written). */
  private val DeleteIdxCol = "_graft_didx"
  private val ScanOrderCol = "_graft_scan_ord"

  /** An equality-delete file's key envelopes, keyed by the key's field id
    * and read from its canonical `_dk<fieldId>` column. */
  private def eqDeleteStats(keyCols: Seq[String]): Seq[StatCol] = keyCols.map { k =>
    val f = schema.fields.find(_.name == k).get
    StatCol(f.id, s"_dk${f.id}", f.dataType)
  }

  /** Data-file metrics of EXISTING files (adopted or copied in — bytes no
    * write of ours produced): one scan feeding the same per-file kernel
    * the write tasks run ([[FileStats.scan]]). Keys are normalized
    * absolute paths. */
  private def scanMetrics(paths: Seq[String]): Map[String, Map[Int, ColMetrics]] = {
    val stats = dataStats
    if (stats.isEmpty) Map.empty
    else FileStats.scan(
      // recursive lookup kills hive partition inference — physical columns only
      spark.read.schema(schema.struct).option("recursiveFileLookup", "true")
        .parquet(paths: _*)
        .select(stats.map(c => col(c.name)) :+
          MorReader.normPath(col("_metadata.file_path")).as("_mfp"): _*),
      "_mfp", stats)
  }

  /** Directory fragment for a partition tuple. Values are PATH-ESCAPED
    * (Hive/Spark escaping — '/' → %2F, '%' → %25, …) so a hostile value
    * stays one directory level; the metadata map keeps the TRUE value. */
  private def partitionDirName(partition: Map[String, String]): String =
    partition.toSeq.sortBy(_._1).map { case (_, v) =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(v)
    }.mkString("-")

  private def deleteFileTarget(kind: String, partition: Map[String, String]): Path = {
    val partitionString = partitionDirName(partition)
    if (partitionString.nonEmpty)
      uniqueNumberedFile(dataDir.resolve(partitionString),
        s"$kind-$partitionString-%02d.parquet")
    else uniqueNumberedFile(dataDir, s"$kind-%02d.parquet")
  }

  /** `%02d`-numbered probe-until-free naming (reference
    * `getUniqueNumberedFilename`, `IcebergTableGenerator.java:386-395`) —
    * but the name is CLAIMED atomically (`Files.createFile` throws for
    * every claimant but the first) rather than exists-checked: two
    * concurrent writers probing the same partition would otherwise both
    * pick the same target and the second staged write would silently
    * REPLACE the first's bytes before either commits — the committed
    * winner's entry would then point at the loser's rows (a lost update
    * the snapshot-log CAS can't see, since both paths look unique to it).
    * The 0-byte placeholder is replaced by the real file on write; a
    * crash between claim and write leaves an unregistered orphan that
    * [[removeOrphanFiles]] sweeps. Single-writer layouts are unchanged
    * (same first-free `%02d` names). */
  private def uniqueNumberedFile(dir: Path, template: String): Path = {
    Files.createDirectories(dir)
    // the counter substitutes via a manual split on the "%02d" marker —
    // String.format would choke on '%' sequences a partition VALUE can
    // smuggle into the prefix (path-escaped '/' is %2F, and raw values
    // may themselves contain '%')
    val i = template.lastIndexOf("%02d")
    require(i >= 0, s"numbered-file template without %%02d: $template")
    val (pre, post) = (template.substring(0, i), template.substring(i + 4))
    var n = 0
    while (true) {
      val p = dir.resolve(pre + f"$n%02d" + post)
      try { Files.createFile(p); return p }
      catch { case _: java.nio.file.FileAlreadyExistsException => n += 1 }
    }
    sys.error("unreachable")
  }

  /** MoR read over THIS generator's ACTIVE lineage (main, or the branch
    * [[writeTo]] routed to), pinned to `pin`: every rewrite-style verb
    * (mergeInto's matched and NMBS legs, updateSemiJoin's rewrite,
    * deleteKeysAnti's key projection) must read the SAME lineage its
    * staged files publish into, at the SAME snapshot its planning saw —
    * a main-only or freshly-reloaded read would leak a concurrent
    * commit's rows (or, on a branch, the wrong history) into the rewrite. */
  private def lineageRead(pin: Option[Long],
                          ranges: Map[String, MorReader.ColRange] = Map.empty,
                          pointValues: Map[String, Set[String]] = Map.empty)
      : DataFrame =
    MorReader.read(spark, tableDir.toString, pin, Map.empty, ranges,
      pointValues, Nil,
      lineage = if (activeBranch == "main") None
        else Some((activeBranch, branchForkId(activeBranch))))

  /** The caller's frame materialized exactly ONCE (localCheckpoint) when
    * — and only when — re-evaluating it could produce DIFFERENT rows:
    * verbs that evaluate a source more than once (key-envelope probe +
    * join, null/empty probes + join) must not let a non-deterministic
    * source (rand(), sampling) prune against one sample and join another
    * — the same failure class the dynamic-overwrite path guards against.
    * A deterministic plan stays LAZY: these verbs exist to join at scale,
    * and forcing an arbitrarily large subquery source onto executor
    * storage would be a regression, not a guard. */
  private def materialized(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val nondet = plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
      case n => n.expressions.exists(e => !e.deterministic)
    }
    if (!nondet) df
    else plan match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _ => df.localCheckpoint()
    }
  }

  /** The one physical write: ONE Spark job lays `df` out as Parquet in a
    * fresh staging dir under the table (`partitionBy` directories when
    * given; Parquet layout knobs from table props — reference
    * `IcebergTableGenerator.java:397-424`, PARQUET_1_0 is Spark's default
    * writer version) and its tasks return every file with its row count
    * and `stats` metrics ([[FileStats.write]] — the reference's
    * `withMetrics(appender.metrics())`, `IcebergTableGenerator.java:414-422`).
    * `place` moves the files it keeps out of the staging dir, which is
    * removed afterwards. */
  private def writeFiles[T](df: DataFrame, stats: Seq[StatCol],
                            partitionBy: Seq[String] = Nil)
                           (place: Seq[WrittenFile] => T): T = {
    val staging = Files.createTempDirectory(tableDir, ".staging")
    try place(FileStats.write(df, staging, partitionBy, props, stats))
    finally deleteRecursively(staging)
  }

  /** ONE delete file per planned partition of `groups`, every partition's
    * file from ONE raw scan and ONE write job — the shape of Iceberg's
    * position-delta writer, which fans its delete writers out by partition
    * inside one task set. Each scanned row is stamped with its group's
    * index (its position in `groups`) by an in-row path lookup; `rows`
    * turns the stamped scan into the rows to write, keeping the index
    * column. The write lays them out by index (`partitionBy`): with an
    * `order`, the rows are hash-partitioned on the index and each
    * partition's rows sorted by `order`; without one, a single task writes
    * them in scan order — the one-task, no-shuffle write an
    * equality-delete file always had. A group no row reaches gets the empty
    * file Spark's writer makes for no empty task, written on the driver
    * ([[FileStats.writeEmpty]]). Every file moves to the
    * [[deleteFileTarget]] name of its partition, claimed in `groups`
    * order, and comes back with its partition and target in that order. */
  private def writeDeleteFiles(kind: String,
                               groups: Seq[(Map[String, String], Seq[DataFileEntry])],
                               stats: Seq[StatCol], order: Seq[String])
                              (rows: DataFrame => DataFrame)
      : Seq[(Map[String, String], Path, WrittenFile)] = {
    if (groups.isEmpty) return Nil
    val idxOf = FileConsts.longs(groups.zipWithIndex.flatMap { case ((_, fs), i) =>
      fs.map(_.path -> i.toLong) })
    val scan = rawScan(groups.flatMap(_._2))
      .withColumn(DeleteIdxCol, idxOf(col(MorReader.FilePathCol)))
    val laid = order match {
      case Nil => // scan order: one task reads every partition's rows in
        // turn, as each partition's own one-task write read them
        rows(scan).withColumn(ScanOrderCol, monotonically_increasing_id())
          .coalesce(1).sortWithinPartitions(col(DeleteIdxCol), col(ScanOrderCol))
          .drop(ScanOrderCol)
      case _ => rows(scan).repartition(groups.size, col(DeleteIdxCol))
        .sortWithinPartitions((DeleteIdxCol +: order).map(col): _*)
    }
    val staging = Files.createTempDirectory(tableDir, ".staging")
    try {
      val byIdx = FileStats.write(laid, staging, Seq(DeleteIdxCol), props, stats)
        .groupBy(_.path.getParent.getFileName.toString
          .stripPrefix(s"$DeleteIdxCol=").toInt)
      groups.zipWithIndex.map { case ((partition, _), i) =>
        val w = byIdx.getOrElse(i, Nil) match {
          case Seq(w) => w
          case Nil => FileStats.writeEmpty(laid, staging.resolve(s"empty-$i.parquet"),
            Seq(DeleteIdxCol), props, stats)
          case more => sys.error(s"expected one $kind file for partition " +
            s"${partitionDirName(partition)}, got ${more.size}")
        }
        val target = deleteFileTarget(kind, partition)
        Files.move(w.path, target, StandardCopyOption.REPLACE_EXISTING)
        (partition, target, w.copy(path = target))
      }
    } finally deleteRecursively(staging)
  }

  /** [[writeFiles]] of `df` as exactly one file, moved to `target`. */
  private def writeFile(df: DataFrame, target: Path, stats: Seq[StatCol]): WrittenFile =
    writeFiles(df.coalesce(1), stats) {
      case Seq(w) =>
        Files.move(w.path, target, StandardCopyOption.REPLACE_EXISTING)
        w.copy(path = target)
      case ws => sys.error(s"expected one parquet part for $target, got ${ws.size}")
    }

  /** Files.list with the stream closed (it holds a directory fd open). */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val buf = Seq.newBuilder[Path]
      while (it.hasNext) buf += it.next()
      buf.result()
    } finally s.close()
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}

object GraftTableGenerator {
  /** Metrics are inferred for at most this many leading schema columns
    * (Iceberg `write.metadata.metrics.max-inferred-column-defaults`). */
  val MetricsMaxCols = 32

  /** Bound on the distinct partition tuples a dynamic overwrite batch may
    * carry — beyond it the operation is effectively a table rewrite and
    * the error says to use the truncate form instead. */
  val MaxDynamicOverwritePartitions = 100000

  /** Past this many matches, the semi/anti-join DML verbs split their
    * ordered positional tombstone into path-range files instead of one
    * global `repartition(1)` sort — the 100×-scale seam for residual
    * deletes touching ~10⁹ rows. Conf-overridable so specs can exercise
    * the split path at test scale. */
  def deleteSplitThreshold(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.delete.splitThreshold")
      .map(_.toLong).getOrElse(10000000L)

  /** Observability counter (tests): data files planned by GENERATOR-side
    * scans (positional-delete matching, compaction grouping) — the
    * write-path twin of [[graft.read.MorReader.dataFilesPlanned]], used to
    * gate that a pruned SQL DELETE/UPDATE opens few files. */
  val deleteScanFilesPlanned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Types whose min/max render to canonical strings the reader can compare
    * (numerics via BigDecimal, the rest lexically — ISO dates, fixed-format
    * timestamps and booleans all sort correctly as strings). */
  private[table] def metricsSupported(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case StringType | DateType | TimestampType | TimestampNTZType | BooleanType => true
    case _ => false
  }
}
