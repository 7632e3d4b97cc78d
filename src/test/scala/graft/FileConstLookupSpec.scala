package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.meta._
import graft.read.{FileConstLookup, FileConsts, MorReader}
import graft.schema.GraftSchema
import graft.table.GraftTableGenerator

/** The per-file constant lookup that stamps sequence numbers, first row
  * ids and partition scopes onto MoR rows: the expression itself
  * (generated and interpreted code agree, null/missing keys, O(1) plan
  * strings), the read plan it leaves (no metadata scan, a fixed job count)
  * and the delete semantics it carries.
  *
  * Cases pinned elsewhere and not repeated here: compacted files keep
  * their preserved row ids (`RowLineageSpec` "ids survive plain
  * compaction; later appends never reuse them" and "sorted compaction
  * reorders rows but ids travel with them"); a bucket-scoped equality
  * delete on its own partition key (`GraftTableSpec` "hidden partition
  * transforms: ..."). */
class FileConstLookupSpec extends SparkSpec {

  private val wh = java.nio.file.Files.createTempDirectory("fcl_wh").toString

  // ---- the expression ---------------------------------------------------

  /** Evaluates `e` over one string column fed from a buffer-REUSING
    * projection, the way a scan hands rows over: every input is the same
    * UnsafeRow object, so a cached key that aliased the buffer would go
    * stale. */
  private def run(e: Expression, keys: Seq[String], codegen: Boolean): Seq[Any] = {
    val proj =
      if (codegen) GenerateUnsafeProjection.generate(Seq(e))
      else InterpretedUnsafeProjection.createProjection(Seq(e))
    val toUnsafe = UnsafeProjection.create(Array[DataType](StringType))
    keys.map { k =>
      val out = proj(toUnsafe(InternalRow(Option(k).map(UTF8String.fromString).orNull)))
      if (out.isNullAt(0)) null
      else e.dataType match {
        case LongType => out.getLong(0)
        case _ => out.getUTF8String(0).toString
      }
    }
  }

  // same-length keys back to back, a null key, a missing key, a return to
  // an earlier file: every way the generated last-key cache could go stale
  private val keys = Seq("/t/f1", "/t/f1", "/t/f2", "/t/f2", null, "/t/f2",
    "/t/f9", "/t/f9", "/t/f1", "/t/f3", "/t/f3")

  test("generated and interpreted lookups agree; null and missing keys give null") {
    val longs = FileConsts.longs(Seq("/t/f1" -> 7L, "/t/f2" -> 9L))
    val strs = FileConsts.strings(Seq("/t/f1" -> "a", "/t/f2" -> "b"))
    val ref = BoundReference(0, StringType, nullable = true)
    val wantL = Seq(7L, 7L, 9L, 9L, null, 9L, null, null, 7L, null, null)
    val wantS = Seq("a", "a", "b", "b", null, "b", null, null, "a", null, null)
    for (cg <- Seq(true, false)) {
      assert(run(FileConstLookup(ref, longs), keys, cg) == wantL, s"codegen=$cg")
      assert(run(FileConstLookup(ref, strs), keys, cg) == wantS, s"codegen=$cg")
    }
    // whole-stage codegen over a scanned frame (a local one would be
    // constant-folded by the optimizer): the same values
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("fcl_keys").resolve("k").toString
    keys.toDF("k").coalesce(1).write.parquet(src)
    val df = spark.read.parquet(src)
      .select(longs(col("k")).as("v"))
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "the lookup must run inside whole-stage codegen")
    assert(df.collect().map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq == wantL)
  }

  test("plan strings and equality stay O(1) in the table size") {
    def table(n: Int) = FileConsts.longs((0 until n).map(i => s"/t/f$i" -> i.toLong))
    val small = table(10)
    val big = table(100000)
    assert(big.toString.length <= small.toString.length + 4, big.toString)
    def plan(t: FileConsts) = spark.range(1)
      .select(t(concat(lit("/t/f"), col("id").cast("string"))).as("v"))
      .queryExecution.executedPlan.toString
    assert(plan(big).contains("FileConsts[100000 files]"), plan(big))
    assert(plan(big).length <= plan(small).length + 16)
    // equality is identity of the table, never a walk over its entries
    assert(small == small && small != table(10))
    val ref = BoundReference(0, StringType, nullable = true)
    assert(FileConstLookup(ref, big) == FileConstLookup(ref, big))
  }

  // ---- the read plan ----------------------------------------------------

  /** One table holding all three delete kinds that survive a point read's
    * pruning: a deletion vector, a positional tombstone and an equality
    * delete, each touching the probed file. */
  private lazy val mixed: GraftTableGenerator = {
    val g = new GraftTableGenerator(spark, wh, "mixed")
      .create(GraftSchema.of("id" -> LongType, "v" -> LongType), Nil)
    g.appendData(spark.range(0, 200).withColumn("v", col("id") * 3)).commit()
    g.positionalDelete(col("id") < 10L).commit()
    g.rewritePositionDeletesToDVs().commit()
    g.positionalDelete(col("id") >= 20L && col("id") < 30L).commit()
    g.equalityDelete(col("id") >= 40L && col("id") < 50L, Seq("id")).commit()
    g
  }

  private def jobsOf(tag: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, tag)
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen, every
      // job the body submitted has been counted
      sc.setJobGroup(s"$tag-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) {
        assert(groups.contains(s"$tag-marker"))
      }
      groups.toArray.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  test("a point read over position, equality and DV deletes runs exactly 4 jobs") {
    val dir = mixed.tableDir.toString
    val kinds = SnapshotLog(dir).load().mainOnly.deleteFiles.map(_.kind).toSet
    assert(kinds == Set("pos", "eq", "dv"), kinds)
    // one broadcast per delete kind (pos anti-join, DV join, eq anti-join)
    // plus the result; no job ships per-file metadata. Id 45 lies inside
    // the equality delete's keys (40..49), so all three kinds apply.
    assert(pointRead(dir, Seq("45")) == (0, 4))
  }

  test("a point probe outside an equality delete's key bounds skips that delete file") {
    val dir = mixed.tableDir.toString
    // the equality delete covers ids 40..49: these probes need only the
    // position and DV deletes, one job fewer
    Seq("5" -> 0, "25" -> 0, "77" -> 1).foreach { case (k, rows) =>
      assert(pointRead(dir, Seq(k)) == (rows, 3), s"id $k")
    }
    // one probe inside the bounds keeps the file for all of them
    assert(pointRead(dir, Seq("45", "77")) == (1, 4))
    // a probe compares as the row predicate casts it: "2024-01-05" is the
    // timestamp the delete's bound renders as "2024-01-05 00:00:00"
    val ts = new GraftTableGenerator(spark, wh, "ts_probe")
      .create(GraftSchema.of("id" -> LongType, "ts" -> TimestampType), Nil)
    ts.appendData(spark.range(0, 10).withColumn("ts",
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).cast("timestamp")))
      .commit()
    ts.equalityDelete(col("id") === 4L, Seq("ts")).commit()
    val tsDir = ts.tableDir.toString
    assert(MorReader.readValues(spark, tsDir, "ts", Seq("2024-01-05")).count() == 0)
    assert(MorReader.readValues(spark, tsDir, "ts", Seq("2024-01-06")).count() == 1)
  }

  /** (rows, Spark jobs) of a `readValues` on `id`. */
  private def pointRead(dir: String, ids: Seq[String]): (Int, Int) = {
    var got = -1
    val n = jobsOf(s"fcl-point-${ids.mkString("-")}") {
      got = MorReader.readValues(spark, dir, "id", ids).collect().length
    }
    (got, n)
  }

  test("a MoR scan's executed plan has no LocalTableScan") {
    val df = MorReader.read(spark, mixed.tableDir.toString)
    assert(df.collect().length == 170)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"), plan)
    assert(plan.contains("file_const"), plan)
  }

  // ---- the semantics the lookups carry ------------------------------------

  test("sequence visibility: position deletes apply at >=, equality deletes at strict >") {
    val base = java.nio.file.Files.createTempDirectory("fcl_seq")
    def one(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val out = base.resolve(name).toString
      df.coalesce(1).write.parquet(out)
      new java.io.File(out).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head
    }
    val schema = GraftSchema.of("id" -> LongType, "v" -> LongType)
    val a = one("a", spark.range(0, 10).withColumn("v", col("id") * 10))
    val b = one("b", spark.range(10, 20).withColumn("v", col("id") * 10))
    import spark.implicits._
    // position 0 of both files, written at seq 2
    val pos = one("pos", Seq((a, 0L), (b, 0L)).toDF("file_path", "pos"))
    // keys 1 (in a) and 11 (in b), written at seq 4
    val eq = one("eq", Seq(1L, 11L).toDF("_dk1"))
    val st = TableState(Map(0 -> schema), Map(0 -> Nil), Seq(Snapshot(1L, 4L, 0, 0,
      Seq(DataFileEntry(a, Map.empty, 0, 0, seq = 2L, recordCount = 10L, firstRowId = 100L),
        DataFileEntry(b, Map.empty, 0, 0, seq = 4L, recordCount = 10L)),
      Seq(DeleteFileEntry(pos, Map.empty, "pos", Nil, Nil, seq = 2L),
        DeleteFileEntry(eq, Map.empty, "eq", Seq("id"), Seq(1), seq = 4L,
          keyColsWritten = Seq("_dk1"))))))
    val rows = MorReader.withMeta(spark, st, schema, Map.empty)
      .select(col("id"), col(MorReader.SeqCol), col(MorReader.RowIdCol),
        col(MorReader.LastSeqCol))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))
      .toMap
    // a: seq 2 — pos (seq 2 >= 2) kills id 0, eq (seq 4 > 2) kills id 1;
    // b: seq 4, appended after both — pos (2 < 4) and eq (4, not > 4) spare it
    assert(rows.keySet == ((2L until 10L) ++ (10L until 20L)).toSet, rows.keySet.toSeq.sorted)
    (2L until 10L).foreach(i => assert(rows(i) == ((2L, Some(100L + i), 2L)), s"id $i"))
    // b has no lineage: no row id, seq from the manifest
    (10L until 20L).foreach(i => assert(rows(i) == ((4L, None, 4L)), s"id $i"))
  }

  test("a hidden-transform equality-delete scope still applies per data file") {
    val g = new GraftTableGenerator(spark, wh, "hidden_scope")
      .create(GraftSchema.of("id" -> LongType, "v" -> LongType), Seq("bucket(4,id)"))
    // v = id % 5: every v value occurs in every bucket
    g.appendData(spark.range(0, 200).withColumn("v", col("id") % 5)).commit()
    val bucket = PartitionTransform.parse("bucket(4,id)")
    def bucketOf(id: Long): String = bucket.apply(id.toString, LongType).get
    // keyed on v, written from id 7's bucket only: the delete's scope is
    // that bucket, which has no data column — rows match it through the
    // data FILE's registered partition value
    g.equalityDelete(col("id") === 7L, Seq("v")).commit()
    val eqs = SnapshotLog(g.tableDir.toString).load().mainOnly.deleteFiles
      .filter(_.kind == "eq")
    assert(eqs.nonEmpty && eqs.forall(_.partition.keySet == Set("id_bucket")))
    assert(eqs.map(_.partition).contains(Map("id_bucket" -> bucketOf(7L))))
    val dead = (0L until 200L).filter(i => i % 5 == 2 && bucketOf(i) == bucketOf(7L)).toSet
    assert(dead.size < 40, "some v = 2 rows must lie outside the scope")
    val live = g.read.select("id").collect().map(_.getLong(0)).toSet
    assert(live == (0L until 200L).toSet -- dead)
    // rows appended after the delete survive it, in the scoped bucket too
    g.appendData(spark.createDataFrame(Seq((7L, 2L))).toDF("id", "v")).commit()
    assert(g.read.where(col("id") === 7L).count() == 1L)
  }
}
