package graft.table

import java.nio.file.Path
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StringType}

import graft.meta.{BloomFilter, ColMetrics}

/** A column whose per-file stats land on the manifest entry under metric id
  * `id` (a field id for data and equality-delete files,
  * [[graft.meta.DeleteFileEntry.PathFieldId]] for a positional file's
  * referenced paths); `bloom` adds the manifest-level Bloom bitset. */
private[table] final case class StatCol(id: Int, name: String, dataType: DataType,
                                        bloom: Boolean = false)

/** One file a write produced: where it is, its honest row count, and its
  * rendered per-column metrics. */
private[table] final case class WrittenFile(path: Path, rows: Long,
                                            metrics: Map[Int, ColMetrics])

/** Running stats of one column in one file — the per-file kernel every
  * write task (and the `addFiles` scan) feeds row by row, the way Iceberg's
  * Parquet appender accumulates `appender.metrics()` while it writes:
  *   - min/max by the type's Catalyst ordering (the order `min(col)` /
  *     `max(col)` use: NaN above every number, -0.0 == 0.0 with the first
  *     seen kept), values copied out of the writer's reused row;
  *   - the null count;
  *   - the Bloom bitset, from ONE xxhash64 per non-null value fanned out by
  *     [[graft.meta.BloomFilter.positions]] — the function the planner
  *     probes with.
  * Raw values travel back to the driver, which merges partials (a large
  * adopted file may span several scan splits) and renders the bounds. */
private[table] final class ColStats(dt: DataType, bloom: Boolean) extends Serializable {
  private var min: Any = null
  private var max: Any = null
  private var nulls = 0L
  private val lanes = if (bloom) new Array[Long](BloomFilter.NumLanes) else null
  @transient private lazy val ord = TypeUtils.getInterpretedOrdering(dt)

  def add(row: InternalRow, i: Int): Unit =
    if (row.isNullAt(i)) nulls += 1
    else {
      val v = row.get(i, dt)
      if (min == null || ord.lt(v, min)) min = InternalRow.copyValue(v)
      if (max == null || ord.gt(v, max)) max = InternalRow.copyValue(v)
      if (lanes != null)
        BloomFilter.positions(BloomFilter.hashValue(v))
          .foreach(p => lanes(p / 64) |= 1L << (p % 64))
    }

  def merge(o: ColStats): Unit = {
    if (o.min != null && (min == null || ord.lt(o.min, min))) min = o.min
    if (o.max != null && (max == null || ord.gt(o.max, max))) max = o.max
    nulls += o.nulls
    if (lanes != null) lanes.indices.foreach(l => lanes(l) |= o.lanes(l))
  }

  /** Bounds render through the same session-time-zone `Cast` to string
    * that `min(col).cast("string")` applies. */
  def metrics(timeZone: String): ColMetrics = {
    def render(v: Any): Option[String] = Option(v).map(x =>
      Cast(Literal(x, dt), StringType, Some(timeZone)).eval().toString)
    ColMetrics(render(min), render(max), nulls, Option(lanes).map(BloomFilter.render))
  }
}

/** Row count plus one [[ColStats]] per stat column, for one file. */
private[table] final class FileAcc(cols: Seq[StatCol]) extends Serializable {
  private var rows = 0L
  private val stats = cols.map(c => new ColStats(c.dataType, c.bloom)).toArray

  def add(row: InternalRow, ordinals: Array[Int]): Unit = {
    rows += 1
    var i = 0
    while (i < stats.length) { stats(i).add(row, ordinals(i)); i += 1 }
  }

  def merge(o: FileAcc): FileAcc = {
    rows += o.rows
    stats.indices.foreach(i => stats(i).merge(o.stats(i)))
    this
  }

  def result(timeZone: String): (Long, Map[Int, ColMetrics]) =
    (rows, cols.zip(stats).map { case (c, s) => c.id -> s.metrics(timeZone) }.toMap)
}

/** What one write task hands back: each file it wrote, keyed by its path
  * relative to the job's output dir (partition directories + file name). */
private final case class TaskFiles(files: Seq[(String, FileAcc)]) extends WriteTaskStats

private final class StatsTaskTracker(cols: Seq[StatCol], ordinals: Array[Int],
                                     partitionDepth: Int) extends WriteTaskStatsTracker {
  private val files = mutable.LinkedHashMap.empty[String, FileAcc]
  private var lastPath: String = _
  private var lastAcc: FileAcc = _

  // a task-temp path ends in `<partition dirs>/<file name>`, exactly the
  // file's location under the output dir once the job commits
  private def relative(path: String): String =
    path.split('/').takeRight(partitionDepth + 1).mkString("/")

  override def newPartition(partitionValues: InternalRow): Unit = ()
  override def newFile(filePath: String): Unit = {
    lastPath = filePath
    lastAcc = new FileAcc(cols)
    files(relative(filePath)) = lastAcc
  }
  override def closeFile(filePath: String): Unit = ()
  override def newRow(filePath: String, row: InternalRow): Unit = {
    if (filePath != lastPath) {
      lastPath = filePath
      lastAcc = files(relative(filePath))
    }
    lastAcc.add(row, ordinals)
  }
  override def getFinalStats(taskCommitTime: Long): WriteTaskStats = TaskFiles(files.toSeq)
}

private final class StatsJobTracker(cols: Seq[StatCol], ordinals: Array[Int],
                                    partitionDepth: Int) extends WriteJobStatsTracker {
  @transient var files: Seq[(String, FileAcc)] = Nil
  override def newTaskInstance(): WriteTaskStatsTracker =
    new StatsTaskTracker(cols, ordinals, partitionDepth)
  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    files = stats.flatMap { case TaskFiles(fs) => fs }
}

private[table] object FileStats {

  /** Write `df` as Parquet under `dir` in ONE Spark job (`partitionBy`
    * columns become `col=value` directories, as `DataFrameWriter` lays them
    * out) and return every file produced with its row count and `cols`
    * metrics, gathered by the write tasks themselves through a
    * [[WriteJobStatsTracker]] — the hook `BasicWriteJobStatsTracker` counts
    * rows with — so no file is read back. `options` reach the Parquet
    * writer exactly as `df.write.options(options)` would pass them. */
  def write(df: DataFrame, dir: Path, partitionBy: Seq[String],
            options: Map[String, String], cols: Seq[StatCol]): Seq[WrittenFile] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    val plan = qe.executedPlan
    val output = plan.output
    val partAttrs = partitionBy.map(n => output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"partition column $n not in ${output.map(_.name)}")))
    val dataNames = output.filterNot(partAttrs.contains).map(_.name)
    val ordinals = cols.map { c =>
      val i = dataNames.indexOf(c.name)
      require(i >= 0, s"stats column ${c.name} not among written columns $dataNames")
      i
    }.toArray
    val tracker = new StatsJobTracker(cols, ordinals, partAttrs.size)
    val conf = spark.sessionState.conf
    val committer = FileCommitProtocol.instantiate(conf.fileCommitProtocolClass,
      UUID.randomUUID.toString, dir.toString)
    SQLExecution.withNewExecutionId(qe, Some(s"graft write $dir")) {
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir.toString, Map.empty, output),
        spark.sessionState.newHadoopConfWithOptions(options), partAttrs,
        bucketSpec = None, statsTrackers = Seq(tracker), options = options)
    }
    val tz = conf.sessionLocalTimeZone
    // in directory-walk order: partition dirs first, file names within
    tracker.files.sortBy(_._1.split('/').toSeq)(Ordering.Implicits.seqOrdering)
      .map { case (rel, acc) =>
        val (rows, metrics) = acc.result(tz)
        WrittenFile(dir.resolve(rel), rows, metrics)
      }
  }

  /** The same kernel over EXISTING files (`addFiles` adopts bytes it never
    * writes): `df` carries the stat columns plus `pathCol`, the file each
    * row came from. One job; partials of a file split across tasks merge
    * on the driver. Keys are the raw `pathCol` values. */
  def scan(df: DataFrame, pathCol: String,
           cols: Seq[StatCol]): Map[String, Map[Int, ColMetrics]] = {
    val names = df.columns.toSeq
    val ordinals = cols.map(c => names.indexOf(c.name)).toArray
    val pathOrd = names.indexOf(pathCol)
    require(pathOrd >= 0 && ordinals.forall(_ >= 0),
      s"scan frame ${names.mkString(",")} lacks $pathCol or a stats column")
    val partials = df.queryExecution.toRdd.mapPartitions { rows =>
      val accs = mutable.LinkedHashMap.empty[String, FileAcc]
      rows.foreach { r =>
        accs.getOrElseUpdate(r.getUTF8String(pathOrd).toString, new FileAcc(cols))
          .add(r, ordinals)
      }
      accs.iterator
    }.collect()
    val tz = df.sparkSession.asInstanceOf[classic.SparkSession]
      .sessionState.conf.sessionLocalTimeZone
    partials.groupBy(_._1).map { case (p, accs) =>
      p -> accs.map(_._2).reduce(_ merge _).result(tz)._2
    }
  }
}
