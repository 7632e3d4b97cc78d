package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.meta.{ColMetrics, DataFileEntry, DeleteFileEntry, SnapshotLog, TableState}
import graft.read.MorReader
import graft.schema.GraftSchema

/** Every delete verb writes all of its partitions' delete files in one
  * write job. The files must be the ones the old per-partition loop wrote
  * — one raw scan, one single-file write and one numbered target per
  * partition, kept below as the oracle: the same names, rows, row order,
  * metrics and snapshot entries, including the empty file of a partition
  * the predicate matches nothing in. */
class DeleteWriteSpec extends SparkSpec {

  private lazy val wh = Files.createTempDirectory("graft-delwrite").toString

  private val schema = GraftSchema.of("id" -> LongType, "p" -> StringType, "v" -> StringType)

  /** Three partitions a/b/c by `p`, two files each (the second append the
    * larger, so a partition's scan does not read its files in path order);
    * `c` holds no id in [35, 55), so range and point predicates inside that
    * band overlap its second file's bounds but match none of its rows. */
  private def table(name: String, dir: String = wh): GraftTableGenerator = {
    val g = new GraftTableGenerator(spark, dir, name).create(schema, Seq("p"))
    def rows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi)
      .withColumn("p", element_at(array(lit("a"), lit("b"), lit("c")),
        (col("id") % 3 + 1).cast("int")))
      .where(!(col("p") === "c" && col("id") >= 35 && col("id") < 55))
      .withColumn("v", concat(lit("v"), col("id").cast("string")))
    g.appendData(rows(0, 30)).commit()
    g.appendData(rows(30, 120)).commit()
    g
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).sorted().forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  // ---- the old per-partition loop ----------------------------------------

  private def partitionDirName(partition: Map[String, String]): String =
    partition.toSeq.sortBy(_._1).map { case (_, v) =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)
    }.mkString("-")

  private def numbered(dir: Path, template: String): Path = {
    Files.createDirectories(dir)
    val i = template.lastIndexOf("%02d")
    val (pre, post) = (template.substring(0, i), template.substring(i + 4))
    Iterator.from(0).map(n => dir.resolve(pre + f"$n%02d" + post)).find { p =>
      try { Files.createFile(p); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }.get
  }

  private def target(tableDir: Path, kind: String, partition: Map[String, String]): Path = {
    val ps = partitionDirName(partition)
    val data = tableDir.resolve("data")
    if (ps.nonEmpty) numbered(data.resolve(ps), s"$kind-$ps-%02d.parquet")
    else numbered(data, s"$kind-%02d.parquet")
  }

  private def rawScan(st: TableState, files: Seq[DataFileEntry]): DataFrame =
    files.groupBy(_.schemaV).toSeq.sortBy(_._1).map { case (v, fs) =>
      val epoch = st.schemas(v)
      spark.read.schema(epoch.struct).parquet(fs.map(_.path): _*)
        .select(schema.fields.map(f => col(epoch.fieldById(f.id).get.name)
            .cast(f.dataType).as(f.name)) :+
          MorReader.normPath(col("_metadata.file_path")).as(MorReader.FilePathCol) :+
          col("_metadata.row_index").as(MorReader.PosCol): _*)
    }.reduce(_.unionByName(_))

  /** Per partition: scan its files, write the matches as one file (sorted
    * by (file_path, pos) after `repartition(1)` for positional files, in
    * scan order for equality files) and move it to the next free name. */
  private def oldLoop(st: TableState, into: Path, kind: String,
                      groups: Seq[(Map[String, String], Seq[DataFileEntry])],
                      stats: Seq[StatCol])
                     (matches: (Map[String, String], DataFrame) => DataFrame)
      : Seq[(Map[String, String], Path, WrittenFile)] =
    groups.map { case (partition, files) =>
      val m = matches(partition, rawScan(st, files))
      val laid =
        if (kind == "delete") m.repartition(1).sortWithinPartitions("file_path", "pos")
        else m
      val t = target(into, kind, partition)
      val staging = Files.createTempDirectory(into, ".staging")
      try {
        val Seq(w) = FileStats.write(laid.coalesce(1), staging, Nil, Map.empty, stats)
        Files.move(w.path, t, StandardCopyOption.REPLACE_EXISTING)
        (partition, t, w.copy(path = t))
      } finally deleteTree(staging)
    }

  private val posStats = Seq(StatCol(DeleteFileEntry.PathFieldId, "file_path", StringType))

  /** The planned partitions of the verbs that take them: grouped, ordered
    * by partition values, files path-sorted. */
  private def planned(st: TableState, keep: DataFileEntry => Boolean)
      : Seq[(Map[String, String], Seq[DataFileEntry])] =
    st.dataFiles.filter(keep).groupBy(_.partition).toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).map(_._2).mkString("-"))
      .map { case (p, fs) => (p, fs.sortBy(_.path)) }

  private def posMatches(pred: Column, withRow: Boolean)
                        (p: Map[String, String], scan: DataFrame): DataFrame =
    scan.where(pred).select(Seq(col(MorReader.FilePathCol).as("file_path"),
      col(MorReader.PosCol).as("pos")) ++
      (if (withRow) Seq(struct(schema.names.map(col): _*).as("row")) else Nil): _*)

  /** Runs `verb` on a fresh table and `old` on a copy of it taken first;
    * the delete files the verb commits must equal the old loop's. */
  private def compare(name: String, emptyPartitions: Int)(verb: GraftTableGenerator => Unit)
                     (old: (TableState, Path) => Seq[(Map[String, String], Path, WrittenFile)])
      : Unit = {
    val g = table(name)
    val copy = Paths.get(wh, s"$name-old")
    copyTree(g.tableDir, copy)
    val st = SnapshotLog(g.tableDir.toString).load()
    val expected = old(st, copy)
    val before = st.deleteFiles.map(_.path).toSet
    verb(g)
    g.commit()
    val got = SnapshotLog(g.tableDir.toString).load().deleteFiles
      .filterNot(f => before(f.path))
    assert(got.size == expected.size, got.map(_.path))
    got.zip(expected).foreach { case (e, (partition, path, w)) =>
      val rel = g.tableDir.relativize(Paths.get(e.path)).toString
      assert(rel == copy.relativize(path).toString)
      assert(e.partition == partition, rel)
      assert(e.metrics == w.metrics, rel)
      val (a, b) = (spark.read.parquet(e.path), spark.read.parquet(path.toString))
      assert(a.schema == b.schema, rel)
      assert(a.collect().toSeq == b.collect().toSeq, rel)
      assert(Files.size(Paths.get(e.path)) == Files.size(path), rel)
    }
    val empties = got.filter(e => spark.read.parquet(e.path).isEmpty)
    assert(empties.size == emptyPartitions, got.map(_.path))
    empties.foreach { e =>
      val honest = e.metrics.values.toSet
      assert(honest.isEmpty || honest == Set(ColMetrics(None, None, 0L, None)), e)
      // byte for byte the file the old loop's empty write task made
      val old = copy.resolve(g.tableDir.relativize(Paths.get(e.path)))
      assert(Files.readAllBytes(Paths.get(e.path)).sameElements(Files.readAllBytes(old)),
        e.path)
    }
  }

  private val inBand = col("id") >= 40 && col("id") <= 50
  private val sevens = col("id") % 7 === 0 && col("p") =!= "c"

  test("positionalDelete writes the old loop's files, with and without partition values") {
    compare("pos_all", 1)(_.positionalDelete(sevens)) { (st, into) =>
      oldLoop(st, into, "delete", planned(st, _ => true), posStats)(posMatches(sevens, true))
    }
    compare("pos_vals", 1)(_.positionalDelete(Seq("a", "c"), inBand)) { (st, into) =>
      oldLoop(st, into, "delete", planned(st, f => Set("a", "c")(f.partition("p"))),
        posStats)(posMatches(inBand, true))
    }
  }

  test("positionalDelete's fake-entry bloat writes the old loop's files") {
    val fakeRow = Seq(lit(-1L), lit("fake"), lit(null).cast(StringType))
    compare("pos_fakes", 0)(_.positionalDelete(None, inBand, 2, 3, fakeRow)) {
      (st, into) =>
        oldLoop(st, into, "delete", planned(st, _ => true), posStats) { (p, scan) =>
          val ps = partitionDirName(p)
          val dataDir = Paths.get(wh, "pos_fakes", "data")
          val prefix = s"$dataDir/$ps/$ps-"
          val h = md5(concat(lit("pos_fakes"), lit(ps), col("id").cast("string"))
            .cast("binary"))
          val uuid = concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
            substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
          val paths = spark.range(2).select(format_string("%s%010d-%s-fake.parquet",
            lit(prefix), col("id"), uuid).as("file_path"))
          val w = Window.partitionBy("file_path").orderBy("j")
            .rowsBetween(Window.unboundedPreceding, -1)
          val delta = pmod(xxhash64(lit(graft.gen.ValueGen.DefaultSeed), lit("fakepos"),
            col("file_path"), col("j")), lit(99L)) + 1
          val fakes = paths.crossJoin(spark.range(3).toDF("j"))
            .withColumn("pos", coalesce(sum(delta).over(w), lit(0L)))
            .select(col("file_path"), col("pos"), struct(schema.names.zip(fakeRow)
              .map { case (n, c) => c.as(n) }: _*).as("row"))
          posMatches(inBand, true)(p, scan).unionByName(fakes)
        }
    }
  }

  test("positionalDeletePruned and deleteWhere write the old loop's files") {
    val point = Map("id" -> Set("42", "45"))
    val pred = col("id").isin(42L, 45L)
    compare("pos_pruned", 2)(_.positionalDeletePruned(pred, Map.empty, Map.empty, point)) {
      (st, into) =>
        val keep = MorReader.pointValuesKeep(spark, st.specs, schema, point)
        oldLoop(st, into, "delete",
          planned(st, f => MorReader.entryMatches(f, schema, Map.empty, Map.empty) && keep(f)),
          posStats)(posMatches(pred, true))
    }
    compare("range", 1)(_.deleteWhere("id", 40L, 50L)) { (st, into) =>
      // no file lies inside [40, 50]; the second append's files overlap it
      val id = schema.fieldId("id")
      val groups = st.dataFiles.filter { f =>
          val m = f.metrics(id)
          m.min.get.toLong <= 50 && m.max.get.toLong >= 40
        }.groupBy(_.partition).toSeq.sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
      assert(groups.map(_._2.size) == Seq(1, 1, 1))
      oldLoop(st, into, "delete", groups, posStats)(posMatches(inBand, false))
    }
  }

  test("equalityDelete writes the old loop's files, rows in scan order") {
    val keys = Seq("id", "v")
    val stats = Seq(StatCol(schema.fieldId("id"), s"_dk${schema.fieldId("id")}", LongType),
      StatCol(schema.fieldId("v"), s"_dk${schema.fieldId("v")}", StringType))
    def eqOld(pred: Column, keep: DataFileEntry => Boolean)(st: TableState, into: Path) =
      oldLoop(st, into, "eqdelete", planned(st, keep), stats) { (_, scan) =>
        scan.where(pred).select(schema.names.map(col) ++
          stats.map(s => col(schema.fields.find(_.id == s.id).get.name).as(s.name)): _*)
      }
    compare("eq_all", 1)(_.equalityDelete(sevens, keys))(eqOld(sevens, _ => true))
    compare("eq_vals", 0)(_.equalityDelete(Seq("b"), col("id") > 20, keys))(
      eqOld(col("id") > 20, _.partition("p") == "b"))
  }

  test("a SQL point DELETE on a partitioned table runs exactly 2 Spark jobs") {
    graft.queries.CatalogFixture.ensure(spark)
    val g = table("dw_sql", s"${graft.queries.CatalogFixture.warehouse}/db")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("dw-delete", "point delete")
      try spark.sql("DELETE FROM graft.db.dw_sql WHERE id = 45") finally sc.clearJobGroup()
      sc.setJobGroup("dw-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) {
        assert(groups.contains("dw-marker"))
      }
      val n = groups.toArray.count(_ == "dw-delete")
      assert(n == 2, s"point DELETE ran $n jobs")
    } finally sc.removeSparkListener(listener)
    val st = SnapshotLog(g.tableDir.toString).load()
    // id 45 lies in every partition's second-file bounds: three delete
    // files, two of them empty
    assert(st.deleteFiles.size == 3, st.deleteFiles.map(_.path))
    assert(MorReader.read(spark, g.tableDir.toString).count() == 112L)
  }
}
