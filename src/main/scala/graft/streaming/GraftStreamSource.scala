package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.meta.SnapshotLog
import graft.read.MorReader
import graft.table.GraftTableGenerator

/** `spark.readStream.format("graft").load(tableDir)` /
  * `df.writeStream.format("graft")...` — graft tables as Structured
  * Streaming endpoints, the Iceberg streaming read/write shape
  * (`spark.readStream.format("iceberg")`) over the engine's own
  * snapshot-incremental scans.
  *
  * `Trigger.AvailableNow()` works (drain-and-terminate, restart picks up
  * the delta) but latches ONE offset at start — Spark's v1-source wrapper
  * semantics — so don't combine it with the per-batch rate caps below:
  * the latch would stop at the first CAPPED offset instead of the head.
  *
  * SOURCE offsets are snapshot ids (the engine assigns them densely, so
  * `maxSnapshotsPerBatch` caps a micro-batch by commit count;
  * `maxRowsPerBatch` / `maxFilesPerBatch` cap it by ADDED rows/files
  * folded off the snapshot outline — the Iceberg
  * `max-rows-per-micro-batch` / `max-files-per-micro-batch` backpressure
  * knobs, so a 100 TB catch-up drains in bounded batches instead of one
  * giant initial scan). Batch semantics follow [[TableFollower]] /
  * Iceberg streaming-read defaults:
  *
  *   - `mode=appends` (default): the first batch is the table's full
  *     state as of the latched head (MoR read — deletes applied), every
  *     later batch exactly the rows appended in `(start, end]`
  *     ([[MorReader.appendsBetween]] — rewrite snapshots skipped, so
  *     compaction never re-delivers);
  *   - `mode=changelog`: row-level changes with a leading `change_kind`
  *     (`insert`/`delete`) column ([[MorReader.changelogBetween]]); an
  *     upstream update arrives as delete(old)+insert(new).
  *
  * Each getBatch builds the SAME composed MoR/delta plan the batch reader
  * uses — distributed parquet scans with manifest pruning — wrapped as a
  * streaming frame; nothing is materialized on the driver. A poll is one
  * driver metadata read plus a scan of only the delta files: O(new data),
  * independent of table size — the 100 TB incremental-ETL primitive.
  *
  * SINK: every micro-batch appends through [[GraftTableGenerator
  * .appendBulk]] (one distributed write job) with the batch id persisted
  * in a sink epoch file NEXT TO the commit; a replayed batch (restart
  * between sink commit and engine checkpoint) is recognized and skipped,
  * so at-least-once delivery lands exactly-once in the table.
  */
class GraftStreamSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def dirOf(params: Map[String, String]): String =
    params.getOrElse("path", throw new IllegalArgumentException(
      "graft stream: set the table directory via .load(<dir>) or " +
        ".option(\"path\", <dir>)"))

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            params: Map[String, String]): (String, StructType) =
    ("graft", GraftSource.schemaFor(ctx.sparkSession, dirOf(params),
      params.getOrElse("mode", "appends")))

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            params: Map[String, String]): Source =
    new GraftSource(ctx.sparkSession, dirOf(params),
      params.getOrElse("mode", "appends"),
      params.getOrElse("maxSnapshotsPerBatch", "0").toLong,
      params.getOrElse("startSnapshotId", "0").toLong,
      params.getOrElse("maxRowsPerBatch", "0").toLong,
      params.getOrElse("maxFilesPerBatch", "0").toLong)

  override def createSink(ctx: SQLContext, params: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val mode = params.getOrElse("writeMode", "append")
    val keys = params.get("upsertKeys").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    require(mode == "append" || keys.nonEmpty,
      s"graft sink writeMode=$mode requires .option(\"upsertKeys\", \"k1,k2\")")
    new GraftSink(ctx.sparkSession, dirOf(params), mode, keys)
  }
}

case class GraftSourceOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}

object GraftSource {
  def schemaFor(spark: SparkSession, dir: String, mode: String): StructType = {
    val base = MorReader.read(spark, dir).schema
    if (mode == "changelog")
      StructType(StructField("change_kind", StringType, nullable = false) +:
        base.fields)
    else base
  }
}

class GraftSource(spark: SparkSession, dir: String, mode: String,
                  maxSnapshotsPerBatch: Long,
                  startSnapshotId: Long = 0L,
                  maxRowsPerBatch: Long = 0L,
                  maxFilesPerBatch: Long = 0L) extends Source {

  require(mode == "appends" || mode == "changelog",
    s"graft stream mode must be appends|changelog, got $mode")

  override val schema: StructType = GraftSource.schemaFor(spark, dir, mode)

  /** Highest snapshot id this source has OFFERED (getOffset) or been asked
    * to deliver (getBatch) — the cap base for maxSnapshotsPerBatch. Engine
    * recovery re-seeds it through getBatch's end offset. Seeded by
    * `startSnapshotId` (Iceberg `stream-from-snapshot`): consumption
    * begins with the deltas AFTER that snapshot — no initial full load. */
  private var latest = math.max(0L, startSnapshotId)

  private def idOf(o: Offset): Long = o.json().trim.toLong

  /** What a pending snapshot would ADD to a micro-batch, off the outline
    * alone: inline data entries plus sharded manifest-group stats — no
    * group materialization. Rewrites cost nothing (appendsBetween never
    * re-delivers them), and unknown declared counts (appendEmptyFile's
    * lying record_count, group rows = -1) under-count rather than stall:
    * the caps are backpressure targets, not exactness contracts — the
    * Iceberg max-files/rows-per-micro-batch semantics. */
  private def addedCost(o: graft.meta.SnapshotOutline): (Long, Long) = {
    if (o.snapshot.operation == "replace") return (0L, 0L)
    val inlineFiles = o.snapshot.dataFiles.size.toLong
    val inlineRows = o.snapshot.dataFiles.map(f => math.max(0L, f.recordCount)).sum
    val groupFiles = o.dataManifestStats.map(_.files.toLong).sum
    val groupRows = o.dataManifestStats.map(s => math.max(0L, s.rows)).sum
    (inlineFiles + groupFiles, inlineRows + groupRows)
  }

  override def getOffset: Option[Offset] = {
    // OUTLINE load: a head poll must not materialize sharded manifests
    val out = SnapshotLog(dir).loadOutline().mainOnly
    val head = out.outlines.lastOption.map(_.snapshot.id).getOrElse(0L)
    if (head == 0L) return None
    var end =
      if (maxSnapshotsPerBatch <= 0L) head
      else math.min(head, latest + maxSnapshotsPerBatch)
    // rows/files backpressure (Iceberg max-rows/files-per-micro-batch):
    // advance the end snapshot while the accumulated ADDED cost stays
    // within the caps — always at least one snapshot, or a catch-up
    // bigger than the cap could never drain
    if (maxRowsPerBatch > 0L || maxFilesPerBatch > 0L) {
      var files = 0L; var rows = 0L; var picked = latest; var full = false
      out.outlines.foreach { o =>
        if (!full && o.snapshot.id > latest && o.snapshot.id <= end) {
          val (f, r) = addedCost(o)
          val over = (maxFilesPerBatch > 0L && files + f > maxFilesPerBatch) ||
            (maxRowsPerBatch > 0L && rows + r > maxRowsPerBatch)
          if (over && picked > latest) full = true
          else { files += f; rows += r; picked = o.snapshot.id }
        }
      }
      end = picked
    }
    // never regress below what was already offered/configured (a start
    // snapshot at or beyond head yields an empty first batch, not a rewind)
    val capped = math.max(end, latest)
    latest = math.max(latest, capped)
    Some(GraftSourceOffset(capped))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = idOf(end)
    latest = math.max(latest, to)
    // a configured start snapshot replaces the initial-full-load batch
    // with an incremental one from that point (stream-from-snapshot)
    val from0 = start.map(idOf).orElse(
      if (startSnapshotId > 0L) Some(startSnapshotId) else None)
    val rows = (from0, mode) match {
      // initial batch: the full state at the latched head
      case (None, "appends") =>
        MorReader.read(spark, dir, Some(to), Map.empty)
      case (None, "changelog") =>
        MorReader.read(spark, dir, Some(to), Map.empty)
          .selectExpr("'insert' AS change_kind", "*")
      case (Some(from), _) if from == to =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case (Some(from), "appends") =>
        MorReader.appendsBetween(spark, dir, from, to)
      case (Some(from), "changelog") =>
        MorReader.changelogBetween(spark, dir, from, to)
    }
    org.apache.spark.sql.graft.GraftSqlShim.asStreaming(rows)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftSource[$dir, $mode]"
}

/** Exactly-once table sink: batch id gate + distributed bulk append.
  *
  * The gate is a SNAPSHOT SUMMARY property (`graft.sink.batch.<queryId>`
  * = batchId) persisted ATOMICALLY with the commit itself — there is no
  * window where the rows landed but the gate did not (a separate epoch
  * file had exactly that crash window, and replaying the batch would
  * double-append). Keying by the streaming queryId keeps two concurrent
  * queries writing the same table from eating each other's batch ids.
  * The replay check is a LIGHT metadata scan ([[SnapshotLog.summaries]] —
  * O(snap files), no manifest materialization), and it refuses a table
  * that still carries the older separate epoch file. */
class GraftSink(spark: SparkSession, dir: String,
                writeMode: String = "append",
                upsertKeys: Seq[String] = Nil) extends Sink {

  require(writeMode == "append" || writeMode == "upsert" || writeMode == "cdc",
    s"graft sink writeMode must be append|upsert|cdc, got $writeMode")

  /** Spark sets this local property on the micro-batch execution thread
    * (`StreamExecution.QUERY_ID_KEY`). */
  private def queryId: String =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("default")

  private def gateKey = s"graft.sink.batch.$queryId"

  private def lastBatch: Long = {
    val key = gateKey
    SnapshotLog(dir).summaries()
      .flatMap(_._3.get(key)).map(_.toLong).maxOption.getOrElse(-1L)
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (batchId <= lastBatch) return // replay after restart — already landed
    val p = Paths.get(dir)
    val g = new GraftTableGenerator(spark, p.getParent.toString,
      p.getFileName.toString).open()
    // streaming micro-batch frames can't be written directly — pull the
    // rows through the batch writer via the micro-batch's analyzed plan
    val batchDf = org.apache.spark.sql.graft.GraftSqlShim.asBatch(data)
    val gate = Map(gateKey -> batchId.toString)
    writeMode match {
      case "append" =>
        g.appendBulk(batchDf.selectExpr(g.liveSchema.names: _*),
          math.max(1, math.min(spark.sparkContext.defaultParallelism, 16)))
          .commit(gate)
      case "upsert" =>
        // keyed replace-or-insert per micro-batch — MoR write cost
        // O(batch), never a target rewrite
        g.upsert(batchDf.selectExpr(g.liveSchema.names: _*), upsertKeys)
          .commit(gate)
      case "cdc" =>
        // apply a NET change batch (`change_kind` ∈ insert|delete — the
        // graft changelog source's per-window diff) in ONE exactly-once
        // snapshot built from exactly TWO staged writes: one equality-
        // delete file covering EVERY key the batch touches (an insert key
        // is a replacement — upsert-as-delete+insert — and a delete-only
        // key simply dies; the sink never needs the delete-vs-insert
        // anti-join, because appended rows take a LATER sequence than the
        // delete file and so are never claimed by it), plus one appended
        // data file for the insert rows. One aggregate job classifies the
        // batch (a micro-batch is tiny; per-job overhead dominates, so
        // the previous two isEmpty probes + anti-join + two delete files
        // cost more than the whole remaining write path — measured in
        // tools/CdcFloorProbe).
        val rows = batchDf.localCheckpoint(true)
        if (!rows.isEmpty) {
          g.deleteKeys(rows.selectExpr(upsertKeys: _*), upsertKeys)
          val inserts = rows.where(org.apache.spark.sql.functions
              .col("change_kind") === "insert")
            .selectExpr(g.liveSchema.names: _*)
          if (!inserts.isEmpty) g.appendData(inserts)
          g.commit(gate)
        }
    }
  }

  override def name(): String = s"GraftSink[$dir]"
  override def schema(): StructType = StructType(Nil)
  override def toString: String = name()
}
