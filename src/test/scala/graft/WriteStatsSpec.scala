package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.meta.{BloomFilter, ColMetrics, DeleteFileEntry, SnapshotLog}
import graft.schema.GraftSchema
import graft.table.GraftTableGenerator

/** Per-file column stats are gathered inside the write tasks. They must
  * equal what a second job re-reading each written file computes — the
  * aggregate kept below as the oracle — for every metrics type, the
  * floating-point and string edge cases, empty and all-null files, and
  * timestamps rendered in a non-UTC session zone. */
class WriteStatsSpec extends SparkSpec {

  private lazy val wh = Files.createTempDirectory("graft-wstats").toString

  /** The re-read aggregate: min/max cast to string, null count, and the
    * Bloom bitset as 16 `bit_or` lanes over `xxhash64(cast(col as string))`. */
  private def oracle(path: String, cols: Seq[(Int, String)], bloomIds: Set[Int],
                     readSchema: Option[StructType]): Map[Int, ColMetrics] = {
    val df = readSchema.fold(spark.read)(spark.read.schema).parquet(path)
    def lanes(id: Int, c: String): Seq[Column] = {
      val nb = BloomFilter.NumBits
      val h = s"xxhash64(cast(`$c` as string))"
      val h2 = s"(shiftrightunsigned($h, 33) | 1L)"
      (0 until BloomFilter.NumLanes).map { l =>
        val terms = (0 until BloomFilter.NumHash).map { j =>
          val pos = s"pmod($h + ${j}L * $h2, ${nb}L)"
          s"if(($pos div 64) = $l, shiftleft(1L, cast($pos % 64 as int)), 0L)"
        }
        coalesce(expr(s"bit_or(if(`$c` is null, 0L, ${terms.mkString(" | ")}))"),
          lit(0L)).as(s"_bf_${id}_$l")
      }
    }
    val aggs = cols.flatMap { case (id, c) => Seq(
      min(col(c)).cast("string").as(s"_mn_$id"),
      max(col(c)).cast("string").as(s"_mx_$id"),
      coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"_nc_$id")) ++
      (if (bloomIds(id)) lanes(id, c) else Nil)
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cols.map { case (id, _) =>
      id -> ColMetrics(Option(r.getAs[String](s"_mn_$id")),
        Option(r.getAs[String](s"_mx_$id")), r.getAs[Long](s"_nc_$id"),
        if (!bloomIds(id)) None
        else Some(BloomFilter.render(Array.tabulate(BloomFilter.NumLanes)(l =>
          r.getAs[Long](s"_bf_${id}_$l")))))
    }.toMap
  }

  /** The bitset the planner's probe function implies: every distinct
    * non-null canonical string, hashed once, its positions set. */
  private def bloomOf(path: String, c: String): String = {
    val lanes = new Array[Long](BloomFilter.NumLanes)
    spark.read.parquet(path).select(col(c).cast("string")).where(col(c).isNotNull)
      .distinct().collect().foreach { r =>
        BloomFilter.positions(BloomFilter.hashString(r.getString(0)))
          .foreach(p => lanes(p / 64) |= 1L << (p % 64))
      }
    BloomFilter.render(lanes)
  }

  private val schema = GraftSchema.of(
    "id" -> LongType, "p" -> StringType, "b" -> ByteType, "sh" -> ShortType,
    "i" -> IntegerType, "l" -> LongType, "f" -> FloatType, "d" -> DoubleType,
    "dec" -> DecimalType(12, 3), "s" -> StringType, "dt" -> DateType,
    "ts" -> TimestampType, "tsn" -> TimestampNTZType, "bo" -> BooleanType)
  private val bloomCols = Seq("b", "sh", "i", "l", "s")

  /** `n` rows over partitions a/b plus an all-null partition `z`: every
    * value column null there, so its files carry no bounds at all. */
  private def rows(from: Int, n: Int): DataFrame = {
    val strs = Seq("", "ü", "日本語", "😀 emoji", "z" * 5000 + "!", "a\u0000b",
      "Zebra", "zebra", "Ωmega")
    val dbls = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e-300, -1.5, 1e300)
    val flts = Seq(Float.NaN, -0.0f, 0.0f, 3.25f, -7.5f, Float.MaxValue)
    val data = (from until from + n).map { k =>
      val p = Seq("a", "b", "z")(k % 3)
      def v[T](x: => T): Any = if (p == "z" || k % 7 == 5) null else x
      Row(k.toLong, p,
        v((k % 250 - 125).toByte), v((k * 37 % 60000 - 30000).toShort),
        v(k * 7919 - 100000), v(k.toLong * 1000003L - 50000000L),
        v(flts(k % flts.size)), v(dbls(k % dbls.size)),
        v(new java.math.BigDecimal(s"${k * 13 - 400}.${k % 1000}")),
        v(strs(k % strs.size) + (if (k % 2 == 0) "" else k.toString)),
        v(Date.valueOf(java.time.LocalDate.of(1900 + k % 200, 1 + k % 12, 1 + k % 28))),
        // around a US daylight-saving switch, where the session zone matters
        v(Timestamp.from(java.time.Instant.parse("2021-03-14T09:30:00Z")
          .plusSeconds(k * 1801L))),
        v(LocalDateTime.of(2021, 3, 14, 1, 30).plusSeconds(k * 1801L)),
        v(k % 5 == 0))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema.struct)
  }

  private def withZone[T](tz: String)(body: => T): T = {
    val old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try body finally spark.conf.set("spark.sql.session.timeZone", old)
  }

  /** Every data and delete file ever added to the table carries exactly
    * the oracle's metrics and an honest row count (the lying empty file
    * aside); Bloom bitsets also equal the planner-side construction. */
  private def assertMatchesOracle(g: GraftTableGenerator): Int = {
    val st = SnapshotLog(g.tableDir.toString).load()
    val data = st.snapshots.flatMap(_.dataFiles).distinctBy(_.path)
    val fields = schema.fields
    val bloomIds = fields.filter(f => bloomCols.contains(f.name)).map(_.id).toSet
    data.foreach { f =>
      val want = oracle(f.path, fields.map(x => x.id -> x.name), bloomIds,
        Some(schema.struct))
      assert(f.metrics == want, s"${f.path}:\n got ${f.metrics}\nwant $want")
      val n = spark.read.parquet(f.path).count()
      assert(f.recordCount == n || (n == 0 && f.recordCount == 1), f.path)
      fields.filter(x => bloomCols.contains(x.name)).foreach { x =>
        assert(f.metrics(x.id).bloom.contains(bloomOf(f.path, x.name)),
          s"${f.path} ${x.name} bloom")
      }
    }
    val deletes = st.snapshots.flatMap(_.deleteFiles).distinctBy(_.path)
    deletes.foreach { d =>
      val cols =
        if (d.kind == "eq") d.equalityIds.map(id => id -> s"_dk$id")
        else Seq(DeleteFileEntry.PathFieldId -> "file_path")
      assert(d.metrics == oracle(d.path, cols, Set.empty, None), d.path)
    }
    data.size + deletes.size
  }

  test("write-time stats equal the re-read aggregate on every write path, " +
      "every metrics type, NaN/±0.0, all-null and empty files, non-UTC zone") {
    withZone("America/Los_Angeles") {
      val g = new GraftTableGenerator(spark, wh, "parted")
        .create(schema, Seq("p")).withBloomFilters(bloomCols: _*)
      g.appendData(rows(0, 90)).commit()          // one file per partition
      g.appendBulk(rows(90, 300), 4).commit()     // one job, many files
      g.appendEmptyFile("a").commit()             // 0 rows, declares 1
      g.positionalDelete(col("id") % 11 === 0).commit()
      g.equalityDelete(col("l") > 0L, Seq("l")).commit()
      g.upsert(rows(390, 12), Seq("id")).commit()
      g.compact().commit()
      g.vectorDeletes(true).positionalDelete(col("id") % 13 === 0).commit()
      assert(assertMatchesOracle(g) > 20)

      val u = new GraftTableGenerator(spark, wh, "flat")
        .create(schema, Nil).withBloomFilters(bloomCols: _*)
      u.appendBulk(rows(0, 0), 2).commit()        // Spark still writes one empty file
      u.appendBulk(rows(0, 60).where(col("p") === "z"), 2).commit() // all-null values
      u.appendData(rows(60, 40)).commit()
      // ±0.0 compare equal (the first seen stays the bound); NaN sorts
      // above every number, so an all-NaN column's bounds are both NaN
      // (0.0 and its negation, not two literals: the optimizer folds a CASE
      // whose branches compare equal, and the literals 0.0 and -0.0 do)
      def zeros(from: Int, positiveFirst: Boolean) = {
        val zero = col("id") * 0.0
        rows(from, 6)
          .withColumn("d", when(col("id") % 2 === 0, if (positiveFirst) zero else -zero)
            .otherwise(if (positiveFirst) -zero else zero))
          .withColumn("f", lit(Float.NaN))
      }
      u.appendData(zeros(100, positiveFirst = true)).commit()
      u.appendData(zeros(106, positiveFirst = false)).commit()
      u.deleteKeys(rows(60, 10), Seq("id", "s")).commit()
      // past the split threshold the tombstones take the multi-file write
      spark.conf.set("spark.graft.delete.splitThreshold", "3")
      try u.deleteSemiJoin(rows(70, 10), Seq("id"), joinResidual = None).commit()
      finally spark.conf.unset("spark.graft.delete.splitThreshold")
      assert(SnapshotLog(u.tableDir.toString).load().snapshots.last
        .deleteFiles.size > 1)
      u.compactSorted("l", 15).commit()
      val st = SnapshotLog(u.tableDir.toString).load()
      assert(st.snapshots.head.dataFiles.map(_.recordCount) == Seq(0L))
      val valueIds = schema.fields.filterNot(f => Set("id", "p")(f.name)).map(_.id)
      assert(st.snapshots(1).dataFiles.forall(f => valueIds.map(f.metrics).forall(m =>
        m.min.isEmpty && m.max.isEmpty && m.nullCount > 0)))
      val dId = schema.fieldId("d")
      val zeroBounds = st.snapshots.slice(3, 5).map { s =>
        val m = s.dataFiles.head.metrics
        (m(dId).min, m(dId).max, m(schema.fieldId("f")).max)
      }
      assert(zeroBounds == Seq((Some("0.0"), Some("0.0"), Some("NaN")),
        (Some("-0.0"), Some("-0.0"), Some("NaN"))), zeroBounds)
      assert(assertMatchesOracle(u) > 8)
    }
  }

  test("addFiles feeds adopted files to the same kernel: stats equal the " +
      "re-read aggregate") {
    withZone("Asia/Kolkata") {
      // hive layout with the partition column also physically in each file
      val src = Files.createTempDirectory("graft-wstats-adopt")
      val all = rows(0, 120)
      Seq("a", "b").foreach { pv =>
        all.where(col("p") === pv).repartition(2)
          .write.parquet(src.resolve(s"p=$pv").toString)
      }
      val g = new GraftTableGenerator(spark, wh, "adopted")
        .create(schema, Seq("p")).withBloomFilters(bloomCols: _*)
      g.addFiles(src.toString).commit()
      assert(assertMatchesOracle(g) == 4)
    }
  }

  test("a single-file delete write runs exactly one Spark job (no stats re-read)") {
    val g = new GraftTableGenerator(spark, wh, "onejob")
      .create(GraftSchema.of("id" -> LongType, "v" -> LongType), Nil)
    g.appendData(spark.range(0, 100).withColumn("v", col("id") * 2)).commit()
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("wstats-eqdelete", "equality delete")
      try g.equalityDelete(col("id") < 10L, Seq("id")) finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen, every
      // job the delete submitted has been counted
      sc.setJobGroup("wstats-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) {
        assert(groups.contains("wstats-marker"))
      }
      val n = groups.toArray.count(_ == "wstats-eqdelete")
      assert(n == 1, s"equality-delete write ran $n jobs")
    } finally sc.removeSparkListener(listener)
    g.commit()
    assert(g.read.count() == 90L)
  }
}
