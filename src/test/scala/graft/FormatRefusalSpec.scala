package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.meta.{Snapshot, SnapshotLog, UnsupportedTableFormatException}
import graft.read.MorReader
import graft.schema.GraftSchema
import graft.streaming.GraftSink
import graft.table.GraftTableGenerator

/** The snapshot log reads one format, the fields the current writer always
  * writes. Each case copies one current-writer table, edits its metadata
  * into an older shape and checks that reading, opening or committing
  * throws, that the message names the table directory and the missing
  * field or file, and that no DataFrame is handed out first. */
class FormatRefusalSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  /** ids 0..19 over two snapshots: an append, then an equality delete of
    * ids 0..2. */
  private lazy val base: Path = {
    val wh = Files.createTempDirectory("refusal_base")
    val g = new GraftTableGenerator(spark, wh.toString, "t")
      .create(GraftSchema.of("id" -> LongType, "v" -> LongType), Nil)
    g.appendData(spark.range(0, 20).withColumn("v", col("id") * 2)).commit()
    g.equalityDelete(col("id") < 3L, Seq("id")).commit()
    assert(g.read.count() == 17)
    g.tableDir
  }

  /** A fresh copy of the base table: (warehouse, table dir). */
  private def copy(tag: String): (String, String) = {
    val wh = Files.createTempDirectory(s"refusal_$tag")
    val dst = wh.resolve("t")
    val walk = Files.walk(base)
    try walk.iterator().asScala.foreach { p =>
      val to = dst.resolve(base.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    (wh.toString, dst.toString)
  }

  private def editSnap(dir: String, id: Long)(edit: ObjectNode => Unit): Unit = {
    val p = Paths.get(dir, "metadata", s"snap-$id.json")
    val n = mapper.readTree(Files.readString(p)).asInstanceOf[ObjectNode]
    edit(n)
    Files.writeString(p, mapper.writeValueAsString(n))
  }

  private def entry(n: ObjectNode, list: String): ObjectNode =
    n.get(list).asInstanceOf[ArrayNode].get(0).asInstanceOf[ObjectNode]

  /** `body` throws the refusal, naming `dir` and every one of `names`. */
  private def refuses(dir: String, names: String*)(body: => Any): Unit = {
    val e = intercept[UnsupportedTableFormatException](body)
    (dir +: names).foreach(n => assert(e.getMessage.contains(n), e.getMessage))
  }

  /** The read throws while planning: no DataFrame, empty or partial,
    * reaches the caller. */
  private def readRefuses(dir: String, names: String*): Unit = {
    var got: Option[DataFrame] = None
    refuses(dir, names: _*) { got = Some(MorReader.read(spark, dir)) }
    assert(got.isEmpty)
  }

  test("a table with the single-file log.jsonl is refused on read, open and commit") {
    val (wh, dir) = copy("log")
    Files.writeString(Paths.get(dir, "metadata", "log.jsonl"), "")
    readRefuses(dir, "log.jsonl")
    refuses(dir, "log.jsonl")(new GraftTableGenerator(spark, wh, "t").open())
    refuses(dir, "log.jsonl")(SnapshotLog(dir).commit(Snapshot(3L, 3L, 0, 0, Nil, Nil)))
  }

  test("a snapshot without operation is refused") {
    val (_, dir) = copy("op")
    editSnap(dir, 2L)(_.remove("operation"))
    readRefuses(dir, "snapshot 2", "operation")
    refuses(dir, "operation")(MorReader.changelogBetween(spark, dir, 1L, 2L))
  }

  test("a snapshot without nextRowId is refused, also by the next commit's row-id counter") {
    val (wh, dir) = copy("rowid")
    editSnap(dir, 2L)(_.remove("nextRowId"))
    readRefuses(dir, "snapshot 2", "nextRowId")
    refuses(dir, "nextRowId")(new GraftTableGenerator(spark, wh, "t").open())
    // the commit reads only the last snapshot's stamp, and refuses it
    refuses(dir, "snapshot 2", "nextRowId")(
      SnapshotLog(dir).commit(Snapshot(3L, 3L, 0, 0, Nil, Nil)))
    assert(!Files.exists(Paths.get(dir, "metadata", "snap-3.json")))
  }

  test("an equality-delete entry without keyColsWritten is refused") {
    val (_, dir) = copy("eq")
    editSnap(dir, 2L)(n => entry(n, "deleteFiles").remove("keyColsWritten"))
    readRefuses(dir, "equality-delete entry", "keyColsWritten")
  }

  test("a data entry without row lineage is refused") {
    val (_, dir) = copy("lineage")
    editSnap(dir, 1L)(n => entry(n, "dataFiles").remove("firstRowId"))
    readRefuses(dir, "data entry", "firstRowId")
    refuses(dir, "firstRowId")(MorReader.changelogBetween(spark, dir, 0L, 2L))
  }

  test("a table with sink-epoch.txt is refused by the streaming sink's batch gate") {
    val (_, dir) = copy("sink")
    Files.writeString(Paths.get(dir, "metadata", "sink-epoch.txt"), "7")
    refuses(dir, "sink-epoch.txt")(new GraftSink(spark, dir).addBatch(0L, spark.emptyDataFrame))
    Files.delete(Paths.get(dir, "metadata", "sink-epoch.txt"))
    assert(MorReader.read(spark, dir).count() == 17) // the copy itself is sound
  }
}
