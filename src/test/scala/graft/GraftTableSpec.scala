package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.gen.Bundles
import graft.read.MorReader
import graft.scenarios.Scenarios
import graft.table.GraftTableGenerator

/** Golden-count and MoR-semantics tests against the reference's documented
  * expectations (reference `Main.java:328-354` for S10; other counts derived
  * from the deterministic id assignment — see each test).
  */
class GraftTableSpec extends SparkSpec {

  private lazy val wh = Files.createTempDirectory("graft-wh").toString

  test("_metadata.row_index is 0-based per file and stable (SURVEY §7.4.3 guard)") {
    val dir = Files.createTempDirectory("rowidx")
    spark.range(0, 100).toDF("v").coalesce(1).write.mode("overwrite")
      .parquet(dir.toString + "/t")
    val df = spark.read.parquet(dir.toString + "/t")
      .select(col("v"), col("_metadata.row_index").as("pos"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.map(_._2).toSeq == rows.map(_._1).toSeq) // pos == write order
  }

  test("S1 createSmallOrders: 600 rows, 200 per order_year, ids 0..599") {
    val g = Scenarios.createSmallOrders(spark, wh)
    val df = g.read
    assert(df.count() == 600)
    val per = df.groupBy("order_year").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(per == Map(2019 -> 200L, 2020 -> 200L, 2021 -> 200L))
    val ids = df.select("order_id").collect().map(_.getInt(0)).sorted
    assert(ids.toSeq == (0 until 600))
  }

  test("S2 createSmallOrdersWithDeletes: 680 live rows; empty file's lying count ignored") {
    val g = Scenarios.createSmallOrdersWithDeletes(spark, wh)
    val df = g.read
    // 800 appended; deletes: %10==0 over ids 0..399 (40), %10==3 over
    // ids 0..599 (60, 2019/2020 files incl. second append), %10==6 over
    // ids 600..799 (20). The appended empty file declares record_count=1
    // but holds 0 rows — content wins.
    assert(df.count() == 680)
    assert(df.where(col("order_id") % 10 === 0 && col("order_id") < 400).count() == 0)
    assert(df.where(col("order_id") % 10 === 3 && col("order_id") < 600).count() == 0)
    assert(df.where(col("order_id") % 10 === 6 && col("order_id") >= 600).count() == 0)
  }

  test("S3 multi-rowgroup deletes: 7225 live; per-partition 3000/2500/1725") {
    val g = Scenarios.createMultiRowGroupOrdersWithDeletes(spark, wh)
    val per = g.read.groupBy("order_year").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(per == Map(2019 -> 3000L, 2020 -> 2500L, 2021 -> 1725L))
  }

  test("S6 large delete file: txn abandoned → table unchanged; delete file on disk, ordered") {
    val g = Scenarios.createSmallOrdersWithLargeDeleteFile(spark, wh,
      fakeFiles = 5, fakeDeletes = 10)
    // reference never commits the delete txn (`Main.java:251-267`)
    assert(g.read.count() == 200)
    val delFile = s"$wh/orders_with_large_delete_file/data/2021/delete-2021-00.parquet"
    val dels = spark.read.parquet(delFile)
    // 60 real matches (%10<3 of ids 0..199) + 5 fake files × 10 entries
    assert(dels.count() == 110)
    assert(dels.where(col("file_path").endsWith("-fake.parquet")).count() == 50)
    // strictly ordered by (file_path, pos)
    val seq = dels.select("file_path", "pos").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(seq.toSeq == seq.toSeq.sorted)
    // fake positions ascending with gaps in [1,100)
    val fakes = seq.filter(_._1.endsWith("-fake.parquet")).groupBy(_._1)
    fakes.values.foreach { entries =>
      val ps = entries.map(_._2).toSeq
      assert(ps == ps.sorted && ps.head == 0L)
      ps.sliding(2).foreach { case Seq(a, b) => assert(b - a >= 1 && b - a < 100)
                              case _ => }
    }
  }

  test("S7 partition evolution: union of spec epochs = 800 rows, no loss/dup") {
    val g = Scenarios.createSmallOrdersWithPartitionEvolution(spark, wh)
    val df = g.read
    assert(df.count() == 800)
    assert(df.select("order_id").distinct().count() == 800)
    // post-evolution files partitioned by source_id: 5 × 40 rows with ids ≥ 600
    assert(df.where(col("order_id") >= 600).groupBy("source_id").count()
      .collect().map(_.getLong(1)).toSeq == Seq.fill(5)(40L))
    // partition-filtered read: new-epoch files prune at file level; old-epoch
    // files (partitioned by order_year) can't be file-pruned but their rows
    // still filter — identity transform means row semantics win
    val pruned = MorReader.readWhere(spark, s"$wh/orders_part_evol",
      Map("source_id" -> Set("2")))
    assert(pruned.count() == df.where(col("source_id") === 2).count())
  }

  test("S8 unpartitioned MoR: 340 live (delete scope = files present at delete time)") {
    val g = Scenarios.createUnpartitionedOrdersWithDeletes(spark, wh)
    assert(g.read.count() == 340)
  }

  test("S9 (shrunk 10 delete commits): 9900 live") {
    val g = Scenarios.createLargeUnpartitionedOrdersWithDeletes(spark, wh,
      deleteCommits = 10)
    assert(g.read.count() == 9900)
  }

  test("S10 golden counts: 200→170→370→333→933→453→450 (Main.java:328-354)") {
    val g = new GraftTableGenerator(spark, wh, "products_with_eq_deletes")
    def n: Long = g.read.count()
    g.create(Scenarios.ProductsSchema, Seq("category"), Scenarios.TinyRowGroupProps)
      .append(Seq("widget"), Bundles.products(), 1, 200).commit()
    assert(n == 200)
    g.equalityDelete(Seq("widget"), col("product_id") < 30, Seq("product_id")).commit()
    assert(n == 170)
    g.append(Seq("gizmo"), Bundles.products(), 1, 200).commit()
    assert(n == 370)
    g.equalityDelete(Seq("widget", "gizmo"), col("color") === "green", Seq("color")).commit()
    assert(n == 333)
    g.append(Seq("widget", "gadget", "gizmo"), Bundles.products(), 1, 200).commit()
    assert(n == 933) // rows re-using eq-deleted keys SURVIVE earlier deletes
    g.equalityDelete(Seq("widget", "gadget", "gizmo"),
      col("product_id") % 200 >= 100, Seq("product_id")).commit()
    assert(n == 453)
    g.positionalDelete(Seq("widget"),
      col("product_id") >= 50 && col("product_id") < 53).commit()
    assert(n == 450)
    // per-category finals
    val per = g.read.groupBy("category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per.values.sum == 450)
    // time travel: snapshot 5 = after third append
    assert(g.readAt(5).count() == 933)
    assert(g.readAt(1).count() == 200)
  }

  test("S11 schema evolution: drop keyed column keeps old eq-deletes applying") {
    val g = Scenarios.createProductsWithEqDeletesSchemaChange(spark, wh)
    val df = g.read
    assert(df.columns.toSeq == Seq("name", "category", "color"))
    assert(df.count() == 370) // 200 − 30 + 200
    // widget rows predate the color column → null; gizmo rows carry it
    assert(df.where(col("category") === "widget").count() == 170)
    assert(df.where(col("category") === "widget" && col("color").isNull).count() == 170)
    assert(df.where(col("category") === "gizmo" && col("color").isNotNull).count() == 200)
  }

  test("S12 wide metrics: 1000 cols × 30 rows") {
    val g = Scenarios.createWideMetrics(spark, wh)
    val df = g.read
    assert(df.columns.length == 1000)
    assert(df.count() == 30)
    assert(df.select("id").distinct().count() == 30)
  }

  test("compaction rewrites MoR state losslessly; time travel survives") {
    val g = new GraftTableGenerator(spark, wh, "compact_products")
    g.create(Scenarios.ProductsSchema, Seq("category"), Scenarios.TinyRowGroupProps)
      .append(Seq("widget"), Bundles.products(), 1, 200).commit()
      .equalityDelete(Seq("widget"), col("product_id") < 30, Seq("product_id")).commit()
      .append(Seq("gizmo"), Bundles.products(), 1, 200).commit()
      .equalityDelete(Seq("widget", "gizmo"), col("color") === "green", Seq("color")).commit()
    val before = g.read.groupBy("category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before.values.sum == 333)

    g.compact().commit()
    val st = graft.meta.SnapshotLog(g.tableDir.toString).load()
    assert(st.deleteFiles.isEmpty) // all delete files rewritten away
    assert(st.dataFiles.size == 2) // one per partition
    val after = g.read.groupBy("category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before)
    // id multiset preserved, not just counts: live = ids ≥30 not ending in 5
    val expectedIdSum = (0 until 400).filter(i => i >= 30 && i % 10 != 5).map(_.toLong).sum
    assert(g.read.agg(sum(col("product_id"))).head().getLong(0) == expectedIdSum)
    // pre-compaction snapshots still resolve from the old files
    assert(g.readAt(2).count() == 170)
    assert(g.readAt(4).count() == 333)
    // further MoR ops compose on the compacted state: live widget ids < 40
    // are 30..39 minus green-deleted 35 → 9 rows removed
    g.positionalDelete(Seq("widget"), col("product_id") < 40).commit()
    assert(g.read.where(col("category") === "widget").count() ==
      before("widget") - 9)
  }

  test("compact after partition evolution: no row duplication across spec epochs") {
    val g = new GraftTableGenerator(spark, wh, "compact_evolved")
    g.create(Scenarios.OrdersSchema, Seq("order_year"))
      .append(Seq(2019, 2020), Bundles.orders(), 1, 100).commit()
      .updateSpec(Seq("source_id"), Seq("order_year")).commit()
      .append(Seq(0, 1), Bundles.ordersSourcePartition(), 1, 50).commit()
    assert(g.read.count() == 300)
    g.compact().commit()
    val df = g.read
    assert(df.count() == 300) // old-epoch rows must not be baked in twice
    assert(df.select("order_id").distinct().count() == 300)
  }

  test("upsert across partitions: key moving partition kills the old row") {
    val g = new GraftTableGenerator(spark, wh, "upsert_move")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), Bundles.products(), 1, 50).commit()
    // key 10 re-lands in gadget: old widget row must die
    val moved = Bundles.products()
      .frame(spark, 10, 1, Some("gadget"), Scenarios.ProductsSchema)
    g.upsert(moved, Seq("product_id")).commit()
    val df = g.read
    assert(df.count() == 50)
    assert(df.where(col("product_id") === 10).count() == 1)
    assert(df.where(col("product_id") === 10).head().getString(2) == "gadget")
  }

  test("renameColumn is pure metadata: old files resolve by id, eq-deletes span the rename") {
    val g = new GraftTableGenerator(spark, wh, "renamed")
    g.create(Scenarios.OrdersSchema, Seq("order_year"))
      .append(Seq(2019), Bundles.orders(), 1, 100).commit()
      .equalityDelete(Seq(2019), col("order_id") < 10, Seq("order_id")).commit()
      .renameColumn("order_id", "order_key")
    // frames carrying the new name append fine
    g.appendData(Bundles.orders().frame(spark, 100, 100, Some(2020),
      Scenarios.OrdersSchema).withColumnRenamed("order_id", "order_key")).commit()
    val df = g.read
    assert(df.columns.contains("order_key") && !df.columns.contains("order_id"))
    assert(df.count() == 190) // pre-rename delete still applies
    // old files' values surface under the new name (id-based projection)
    assert(df.where(col("order_year") === 2019)
      .agg(min("order_key"), max("order_key")).head() ==
      org.apache.spark.sql.Row(10, 99))
    // a delete keyed on the NEW name kills rows in OLD files (same field id)
    g.equalityDelete(Seq(2019, 2020), col("order_key") % 10 === 5, Seq("order_key")).commit()
    assert(g.read.count() == 171) // 190 − 9 (2019: 15..95) − 10 (2020)
    // a generator still emitting the OLD name must fail loudly — silently
    // registering it under the new epoch would read back as NULLs
    val mismatch = intercept[IllegalArgumentException](
      g.append(Seq(2021), Bundles.orders(), 1, 100))
    assert(mismatch.getMessage.contains("renameColumn"))
    g.refresh() // discard the rejected staging; renamed schema is committed
    assert(g.liveSchema.names.contains("order_key"))
    intercept[IllegalArgumentException](g.renameColumn("nope", "x"))
    intercept[IllegalArgumentException](g.renameColumn("order_key", "amount"))
  }

  test("dropped field ids are never reused (no data resurrection)") {
    val g = new GraftTableGenerator(spark, wh, "id_reuse")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), Bundles.products(), 1, 20).commit()
      .updateSchema(Nil, Seq("quantity")) // drop the highest-id column
      .updateSchema(Seq("score" -> org.apache.spark.sql.types.DoubleType), Nil)
    g.append(Seq("gizmo"), (s, idStart, n, pv, schema) => {
      Bundles.products().frame(s, idStart, n, pv,
        schema.deleteColumn("score"))
        .withColumn("score", lit(1.5))
        .select(schema.names.map(col): _*)
    }, 1, 20).commit()
    val df = g.read
    // old widget rows: score must be NULL, not resurrected quantity ints
    assert(df.where(col("category") === "widget" && col("score").isNotNull).count() == 0)
    assert(df.where(col("category") === "gizmo" && col("score") === 1.5).count() == 20)
  }

  test("expireSnapshots drops history + deletes orphaned files; current reads unchanged") {
    val g = new GraftTableGenerator(spark, wh, "expire_demo")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), Bundles.products(), 1, 100).commit()       // snap 1
      .equalityDelete(Seq("widget"), col("product_id") < 20, Seq("product_id")).commit() // 2
      .compact().commit()                                               // 3
      .append(Seq("widget"), Bundles.products(), 1, 50).commit()        // 4
    val before = g.read.count()
    assert(before == 130)
    val preFiles = java.nio.file.Files.walk(g.tableDir.resolve("data"))
      .filter(p => p.toString.endsWith(".parquet")).count()

    g.expireSnapshots(keepLast = 1) // horizon = snap 3 (compact) as baseline, keep snap 4
    assert(g.read.count() == before)
    assert(g.readAt(3).count() == 80)  // retained horizon still resolves
    assert(g.readAt(1).count() == 0)   // history past the horizon is gone
    // pre-compaction data + delete files physically removed
    val postFiles = java.nio.file.Files.walk(g.tableDir.resolve("data"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(postFiles < preFiles)
    val st = graft.meta.SnapshotLog(g.tableDir.toString).load()
    assert(st.snapshots.size == 2) // baseline + 1 retained
    // engine continues to operate post-expiry
    g.positionalDelete(Seq("widget"), col("product_id") >= 140).commit()
    assert(g.read.count() == 120)
  }

  test("incremental: appendsBetween reads only in-range files; changelog diffs live sets") {
    val g = new GraftTableGenerator(spark, wh, "incr_demo")
    g.create(Scenarios.OrdersSchema, Nil)
      .append(Bundles.ordersUnpartitioned(), 2, 50).commit() // snap 1: ids 0..99
      .append(Bundles.ordersUnpartitioned(), 2, 50).commit() // snap 2: ids 100..199
      .equalityDelete(col("order_id") % 100 < 5, Seq("order_id")).commit() // snap 3
    val dir = g.tableDir.toString

    // raw appends of (1, 3]: snap-2 rows, the snap-3 delete NOT applied
    val app = MorReader.appendsBetween(spark, dir, 1L, 3L)
    assert(app.select("order_id").collect().map(_.getInt(0)).sorted.toSeq
      == (100 until 200))
    // plan gate: of the 4 data files on disk, only snap 2's two back the scan
    val snap2Paths = graft.meta.SnapshotLog(dir).load()
      .snapshots.find(_.id == 2L).get.dataFiles.map(_.path).toSet
    val scanned = app.inputFiles.map(_.replaceFirst("^file:/+", "/")).toSet
    assert(scanned == snap2Paths,
      s"appendsBetween plans over $scanned, want exactly $snap2Paths")

    // changelog (1, 3]: inserts = snap-2 rows surviving the delete
    // (105..199); deletes = snap-1 rows it killed (0..4)
    val ch = MorReader.changelogBetween(spark, dir, 1L, 3L)
    val ins = ch.where(col("change_kind") === "insert")
      .select("order_id").collect().map(_.getInt(0)).sorted
    assert(ins.toSeq == (105 until 200))
    val del = ch.where(col("change_kind") === "delete")
      .select("order_id").collect().map(_.getInt(0)).sorted
    assert(del.toSeq == (0 until 5))
  }

  test("incremental scans skip rewrite snapshots: compaction is not an append or a change") {
    val g = new GraftTableGenerator(spark, wh, "incr_compact")
    g.create(Scenarios.OrdersSchema, Nil)
      .append(Bundles.ordersUnpartitioned(), 2, 50).commit() // snap 1: ids 0..99
      .positionalDelete(col("order_id") % 10 === 0).commit() // snap 2: kills 10
      .append(Bundles.ordersUnpartitioned(), 1, 50).commit() // snap 3: ids 100..149
      .compact().commit()                                    // snap 4: pure rewrite
    val dir = g.tableDir.toString

    // a pure-maintenance range produces nothing
    assert(MorReader.appendsBetween(spark, dir, 3L, 4L).count() == 0)
    assert(MorReader.changelogBetween(spark, dir, 3L, 4L).count() == 0)

    // a range that contains the compaction still reports the REAL changes:
    // appends of snap 3 (raw, from their original still-on-disk files)
    val app = MorReader.appendsBetween(spark, dir, 2L, 4L)
    assert(app.select("order_id").collect().map(_.getInt(0)).sorted.toSeq
      == (100 until 150))
    // changelog (1, 4]: deletes = snap-2 victims; inserts = snap-3 appends
    val ch = MorReader.changelogBetween(spark, dir, 1L, 4L)
    val del = ch.where(col("change_kind") === "delete")
      .select("order_id").collect().map(_.getInt(0)).sorted
    assert(del.toSeq == (0 until 100 by 10))
    val ins = ch.where(col("change_kind") === "insert")
      .select("order_id").collect().map(_.getInt(0)).sorted
    assert(ins.toSeq == (100 until 150))
  }

  test("manifest bloom filters: equality read prunes files min/max cannot; sound on misses and ranges") {
    import org.apache.spark.sql.types._
    val g = new GraftTableGenerator(spark, wh, "bloom_demo")
    g.create(graft.schema.GraftSchema.of("id" -> LongType, "tok" -> StringType), Nil)
      .withBloomFilters("tok")
    // 8 files; every file spans [aaa, zzz] lexically (sentinel first/last
    // rows) but holds ONE distinct key token — the scattered-values shape
    // where min/max envelopes keep everything
    (0 until 8).foreach { i =>
      val df = spark.range(i * 100L, (i + 1) * 100L).toDF("id")
        .withColumn("tok",
          when(col("id") % 100 === 0, lit("aaa"))
            .when(col("id") % 100 === 99, lit("zzz"))
            .otherwise(concat(lit("key_"), lit(i))))
      g.appendData(df).commit()
    }
    // blooms round-trip through the JSON log (fresh load)
    val st = graft.meta.SnapshotLog(g.tableDir.toString).load()
    val tokId = st.schema.fieldId("tok")
    assert(st.dataFiles.size == 8)
    assert(st.dataFiles.forall(f => f.metrics(tokId).min.contains("aaa") &&
      f.metrics(tokId).max.contains("zzz")))
    assert(st.dataFiles.forall(_.metrics(tokId).bloom.isDefined))
    // equality read: the envelope test keeps all 8, the bloom prunes to
    // exactly the one file that contains the token — and the rows match
    val eq = MorReader.readRange(spark, g.tableDir.toString,
      Map("tok" -> MorReader.ColRange(Some("key_3"), Some("key_3"))))
    assert(eq.inputFiles.length == 1, eq.inputFiles.mkString(","))
    assert(eq.count() == 98)
    assert(eq.agg(sum(col("id"))).head().getLong(0) == (301L to 398L).sum)
    // a value no file contains prunes everything — still a sound 0 rows
    val none = MorReader.readRange(spark, g.tableDir.toString,
      Map("tok" -> MorReader.ColRange(Some("key_nope"), Some("key_nope"))))
    assert(none.count() == 0)
    // a genuine RANGE (lo != hi) never consults the bloom — all files kept
    // by the overlapping envelopes, rows filtered row-level
    val range = MorReader.readRange(spark, g.tableDir.toString,
      Map("tok" -> MorReader.ColRange(Some("key_2"), Some("key_4"))))
    assert(range.inputFiles.length == 8)
    assert(range.count() == 3 * 98)
    // the long column got no bloom (not requested) — min/max pruning only
    assert(st.dataFiles.forall(_.metrics(st.schema.fieldId("id")).bloom.isEmpty))
    // IN-set read: per-value bloom probes open exactly the two files
    // holding the probed tokens (a single [key_2, key_6] RANGE keeps all
    // 8 spanning files — readRange above proved that); misses cost nothing
    val inSet = MorReader.readValues(spark, g.tableDir.toString, "tok",
      Seq("key_2", "key_6", "key_missing"))
    assert(inSet.inputFiles.length == 2, inSet.inputFiles.mkString(","))
    assert(inSet.count() == 2 * 98)
    // envelope-only path (no bloom on id): disjoint per-file id ranges
    // prune to the single covering file
    val byId = MorReader.readValues(spark, g.tableDir.toString, "id", Seq("150"))
    assert(byId.inputFiles.length == 1)
    assert(byId.collect().map(_.getLong(0)).toSeq == Seq(150L))
  }

  test("mergeInto: conditional delete/update/insert; matched-no-action rows untouched; cross-partition moves; cardinality guard") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val g = new GraftTableGenerator(spark, wh, "merge_cond")
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "part" -> StringType, "ver" -> LongType,
      "val" -> StringType), Seq("part"))
    g.appendData(Seq(
      (1L, "a", 1L, "old1"), (2L, "a", 5L, "old2"), (3L, "a", 1L, "old3"),
      (4L, "b", 1L, "old4"), (5L, "b", 1L, "old5"), (6L, "b", 2L, "old6"))
      .toDF("id", "part", "ver", "val")).commit()
    val src = Seq(
      (1L, "a", 2L, "new1", "U"), // ver 2 > 1  → update
      (2L, "a", 3L, "new2", "U"), // ver 3 < 5  → matched, no action
      (3L, "a", 9L, "x", "D"),    //            → delete
      (4L, "a", 7L, "new4", "U"), // update + partition move b → a
      (6L, "b", 2L, "new6", "U"), // ver 2 = 2  → matched, no action
      (7L, "c", 1L, "new7", "U"), // unmatched  → insert (new partition)
      (8L, "c", 1L, "skip", "D")  // unmatched, op=D → insertWhen false
    ).toDF("id", "part", "ver", "val", "op")
    g.mergeInto(src, Seq("id"),
      updateWhen = col("ver") > col("_t_ver"),
      deleteWhen = col("op") === "D",
      insertWhen = col("op") =!= "D").commit()
    val rows = g.read.select("id", "part", "ver", "val")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "a", 2L, "new1"), (2L, "a", 5L, "old2"), (4L, "a", 7L, "new4"),
      (5L, "b", 1L, "old5"), (6L, "b", 2L, "old6"), (7L, "c", 1L, "new7")))
    // the moved key is unique and its live row sits in the NEW partition
    assert(g.read.where(col("id") === 4L).count() == 1)

    // two source rows matching one target row → SQL MERGE cardinality error
    val dup = Seq((5L, "b", 9L, "d1", "U"), (5L, "b", 8L, "d2", "U"))
      .toDF("id", "part", "ver", "val", "op")
    val ex = intercept[IllegalArgumentException] {
      g.mergeInto(dup, Seq("id"), deleteWhen = col("op") === "D")
    }
    assert(ex.getMessage.contains("cardinality"))

    // duplicate UNMATCHED keys are legal and both insert (SQL semantics)
    g.mergeInto(Seq((99L, "c", 1L, "i1", "U"), (99L, "c", 2L, "i2", "U"))
      .toDF("id", "part", "ver", "val", "op"), Seq("id")).commit()
    assert(g.read.where(col("id") === 99L).count() == 2)
  }

  test("mergeInto prunes the target read to the source key envelope (plan-gated)") {
    import org.apache.spark.sql.types._
    val g = new GraftTableGenerator(spark, wh, "merge_prune")
    g.create(graft.schema.GraftSchema.of("id" -> LongType, "val" -> LongType), Nil)
    // 8 single-file commits with DISJOINT id ranges — a key-clustered table
    (0 until 8).foreach { i =>
      g.appendData(spark.range(i * 100L, (i + 1) * 100L).toDF("id")
        .withColumn("val", col("id") * 2)).commit()
    }
    // the batch touches only file 2's range (205..214) — the internal
    // target read must plan 1 of 8 data files
    val src = spark.range(205L, 215L).toDF("id").withColumn("val", col("id") * 9)
    val before = MorReader.dataFilesPlanned.get()
    g.mergeInto(src, Seq("id"))
    val planned = MorReader.dataFilesPlanned.get() - before
    g.commit()
    assert(planned == 1, s"merge target read planned $planned of 8 files")
    assert(g.read.where(col("id").between(205, 214))
      .agg(sum(col("val"))).head().getLong(0) == (205L to 214L).map(_ * 9).sum)
    assert(g.read.count() == 800) // upsert semantics: replaced, not added

    // scattered-key CDC batch on a bloom-indexed table: the per-value
    // fast path (small distinct-key batches) opens only the touched
    // files, where the min/max envelope keeps all 8 spanning files
    import spark.implicits._
    import org.apache.spark.sql.types._
    val gb = new GraftTableGenerator(spark, wh, "merge_prune_bloom")
    gb.create(graft.schema.GraftSchema.of(
      "tok" -> StringType, "v" -> LongType), Nil).withBloomFilters("tok")
    (0 until 8).foreach { i =>
      gb.appendData(Seq(("aaa", -1L), (s"key_$i", i.toLong), ("zzz", 99L))
        .toDF("tok", "v")).commit()
    }
    val src2 = Seq(("key_2", 20L), ("key_6", 60L)).toDF("tok", "v")
    val b0 = MorReader.dataFilesPlanned.get()
    gb.mergeInto(src2, Seq("tok"))
    val planned2 = MorReader.dataFilesPlanned.get() - b0
    gb.commit()
    assert(planned2 == 2, s"bloom-indexed merge planned $planned2 of 8 files")
    assert(gb.read.where(col("tok") === "key_2").head().getLong(1) == 20L)
    assert(gb.read.count() == 24) // 2 replaced in place, nothing added
  }

  test("compactPositionDeletes: tombstone waves collapse to one file per partition; dedup; live rows unchanged") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val g = new GraftTableGenerator(spark, wh, "posdel_compact")
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "part" -> StringType), Seq("part"))
    g.appendData(spark.range(0, 200).toDF("id")
      .withColumn("part", when(col("id") < 100, lit("a")).otherwise(lit("b"))))
      .commit()
    g.positionalDelete(col("id") % 10 === 0).commit()
    g.positionalDelete(col("id") % 10 === 1).commit()
    // interleaved append — its rows must keep their visibility across the
    // seq-uplifting consolidation
    g.appendData(Seq((200L, "a"), (201L, "a")).toDF("id", "part")).commit()
    g.positionalDelete(col("id") % 10 === 0).commit() // re-kills the 0s (dup tombstones) + 200
    val before = g.read.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(graft.meta.SnapshotLog(g.tableDir.toString).load()
      .deleteFiles.count(_.kind == "pos") == 6) // 3 waves × 2 partitions
    g.compactPositionDeletes().commit()
    val st = graft.meta.SnapshotLog(g.tableDir.toString).load()
    assert(st.deleteFiles.count(_.kind == "pos") == 2) // one per partition
    val after = g.read.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before)
    // rows appended after consolidation stay alive (new paths — the
    // uplifted tombstone seq cannot reach them)
    g.appendData(Seq((300L, "b")).toDF("id", "part")).commit()
    assert(g.read.where(col("id") === 300L).count() == 1)
  }

  test("removeOrphanFiles: deletes abandoned-txn strays; keeps referenced, staged, and in-grace files") {
    import org.apache.spark.sql.types._
    val g = new GraftTableGenerator(spark, wh, "orphan_gc")
    g.create(graft.schema.GraftSchema.of("id" -> LongType), Nil)
    g.appendData(spark.range(0, 50).toDF("id")).commit()
    g.appendData(spark.range(50, 100).toDF("id")).commit()
    // abandoned transaction: stage a delete, then discard it — the
    // tombstone file stays on disk with no log entry (the S6 shape)
    g.positionalDelete(col("id") % 10 === 0)
    g.refresh()
    // plus a stray no writer accounts for
    val stray = g.tableDir.resolve("data").resolve("stray.parquet")
    Files.write(stray, Array[Byte](1, 2, 3))
    // a staged-but-uncommitted append must SURVIVE GC
    g.appendData(spark.range(100, 150).toDF("id"))
    assert(g.removeOrphanFiles(graceMs = 3600L * 1000).isEmpty) // all in grace
    val gone = g.removeOrphanFiles()
    assert(gone.exists(_.contains("stray.parquet")))
    assert(gone.exists(_.contains("delete-")), gone.mkString(","))
    assert(!Files.exists(stray))
    g.commit() // the protected staged append lands intact
    assert(g.read.count() == 150)
    // both historical snapshots' files survived (time travel intact)
    assert(g.readAt(1L).count() == 50)
    assert(g.removeOrphanFiles().isEmpty) // idempotent: nothing left
  }

  test("readValues plans exactly like read(pointValues): same files, same rows (bloom and bucket tables)") {
    import org.apache.spark.sql.types._
    val gb = new GraftTableGenerator(spark, wh, "pv_bloom")
    gb.create(graft.schema.GraftSchema.of("id" -> LongType, "tok" -> StringType), Nil)
      .withBloomFilters("tok")
    for (i <- 0 until 4)
      gb.appendData(spark.range(i * 50L, (i + 1) * 50L).toDF("id")
        .withColumn("tok", when(col("id") % 50 === 0, lit("aaa"))
          .otherwise(concat(lit("key_"), lit(i))))).commit()
    gb.positionalDelete(col("id") % 7 === 0).commit()
    val gk = new GraftTableGenerator(spark, wh, "pv_bucket")
    gk.create(graft.schema.GraftSchema.of("id" -> LongType, "val" -> LongType),
      Seq("bucket(4,id)"))
    gk.appendData(spark.range(0, 200).toDF("id").withColumn("val", col("id") * 2)).commit()
    gk.equalityDelete(col("id") % 9 === 0, Seq("id")).commit()
    def same(g: GraftTableGenerator, c: String, values: Seq[String], files: Int): Unit = {
      val dir = g.tableDir.toString
      val a = MorReader.readValues(spark, dir, c, values)
      val b = MorReader.read(spark, dir, None, Map.empty, pointValues = Map(c -> values.toSet))
      assert(a.inputFiles.sorted.toSeq == b.inputFiles.sorted.toSeq, s"$c in $values")
      val (deleteFiles, dataFiles) =
        a.inputFiles.partition(_.split('/').last.contains("delete"))
      assert(dataFiles.length == files, s"$c in $values: ${a.inputFiles.mkString(",")}")
      // a partition-scoped delete file is read only with its partition's data
      def dirs(fs: Array[String]) = fs.map(_.split('/').dropRight(1).mkString("/")).toSet
      assert(dirs(deleteFiles).subsetOf(dirs(dataFiles)), a.inputFiles.mkString(","))
      assert(a.collect().map(_.toString).sorted.toSeq ==
        b.collect().map(_.toString).sorted.toSeq, s"$c in $values")
    }
    same(gb, "tok", Seq("key_1"), 1)
    same(gb, "tok", Seq("key_0", "key_3", "key_missing"), 2)
    same(gb, "tok", Seq("aaa"), 4)
    same(gb, "id", Seq("75", "120"), 2)
    same(gk, "id", Seq("37"), 1)
    val bucket = graft.meta.PartitionTransform.parse("bucket(4,id)")
    val probes = Seq("36", "37", "38", "39", "40", "41")
    same(gk, "id", probes, probes.flatMap(bucket.apply(_, LongType)).distinct.size)
    same(gk, "val", Seq("74"), 4) // not a partition source: no transform pruning
    // one equality-delete file per bucket: a read opens those of its buckets only
    def eqFiles(values: Seq[String]) = MorReader.readValues(spark, gk.tableDir.toString,
      "id", values).inputFiles.count(_.split('/').last.startsWith("eqdelete"))
    assert(eqFiles(Seq("37")) == 1)
    assert(eqFiles(probes) == probes.flatMap(bucket.apply(_, LongType)).distinct.size)
    assert(MorReader.readValues(spark, gk.tableDir.toString, "id", Seq("37")).count() == 1)
    assert(MorReader.readValues(spark, gk.tableDir.toString, "id", probes).count() == 5)
  }

  test("point probes prune data files by the value the row predicate casts them to") {
    import org.apache.spark.sql.types._
    val g = new GraftTableGenerator(spark, wh, "pv_cast")
    g.create(graft.schema.GraftSchema.of("ts" -> TimestampType, "d" -> DateType), Nil)
    g.appendData(spark.range(1).select(
      lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00")).as("ts"),
      lit(java.sql.Date.valueOf("2024-01-05")).as("d"))).commit()
    val dir = g.tableDir.toString
    assert(MorReader.readValues(spark, dir, "ts", Seq("2024-01-05")).count() == 1)
    assert(MorReader.readValues(spark, dir, "ts", Seq("2024-01-05 00:00:00")).count() == 1)
    assert(MorReader.readValues(spark, dir, "ts", Seq("2024-01-06")).count() == 0)
    assert(MorReader.readValues(spark, dir, "d", Seq("2024-01-05 00:00:00")).count() == 1)
    assert(MorReader.readValues(spark, dir, "d", Seq("2024-1-5")).count() == 1)
    assert(MorReader.readValues(spark, dir, "d", Seq("2024-01-04")).count() == 0)
  }

  test("hidden partition transforms: bucket/truncate/day derive dirs, point reads prune by transform") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // BUCKET: bounded partition count over an unbounded key; every file
    // spans nearly the whole id range (hash scatter), so min/max can't
    // prune — the partition-value match is what opens 1 of 4 files
    val g = new GraftTableGenerator(spark, wh, "bucket_tbl")
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Seq("bucket(4,id)"))
    g.appendData(spark.range(0, 400).toDF("id")
      .withColumn("val", col("id") * 2)).commit()
    val st = graft.meta.SnapshotLog(g.tableDir.toString).load()
    assert(st.dataFiles.size == 4)
    assert(st.dataFiles.forall(_.partition.keySet == Set("id_bucket")))
    assert(g.read.columns.toSeq == Seq("id", "val")) // partition is hidden
    assert(g.read.count() == 400)
    val one = MorReader.readValues(spark, g.tableDir.toString, "id", Seq("37"))
    assert(one.inputFiles.length == 1, one.inputFiles.mkString(","))
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(37L))
    // deletes/upserts compose: partition-scoped delete files, MoR merge
    g.equalityDelete(col("id") % 100 === 37, Seq("id")).commit()
    assert(g.read.count() == 396)
    assert(MorReader.readValues(spark, g.tableDir.toString, "id", Seq("37")).count() == 0)

    // TRUNCATE: prefix clustering; point read prunes by derived prefix
    val gt = new GraftTableGenerator(spark, wh, "trunc_tbl")
    gt.create(graft.schema.GraftSchema.of(
      "tok" -> StringType, "n" -> LongType), Seq("truncate(2,tok)"))
    gt.appendData(Seq(("apple", 1L), ("apron", 2L), ("banana", 3L), ("berry", 4L))
      .toDF("tok", "n")).commit()
    val stT = graft.meta.SnapshotLog(gt.tableDir.toString).load()
    assert(stT.dataFiles.map(_.partition("tok_trunc")).sorted == Seq("ap", "ba", "be"))
    val ap = MorReader.readValues(spark, gt.tableDir.toString, "tok", Seq("apron"))
    assert(ap.inputFiles.length == 1)
    assert(ap.collect().map(_.getString(0)).toSeq == Seq("apron"))

    // DAY: time-series ingest layout over a timestamp column
    val gd = new GraftTableGenerator(spark, wh, "day_tbl")
    gd.create(graft.schema.GraftSchema.of(
      "ts" -> TimestampType, "v" -> LongType), Seq("day(ts)"))
    gd.appendData(Seq(
      ("2023-05-01 10:00:00", 1L), ("2023-05-01 23:59:59", 2L),
      ("2023-05-02 00:00:01", 3L))
      .toDF("s", "v").select(col("s").cast("timestamp").as("ts"), col("v"))).commit()
    val stD = graft.meta.SnapshotLog(gd.tableDir.toString).load()
    assert(stD.dataFiles.map(_.partition("ts_day")).sorted ==
      Seq("2023-05-01", "2023-05-02"))
    val d1 = MorReader.readValues(spark, gd.tableDir.toString, "ts",
      Seq("2023-05-01 23:59:59"))
    assert(d1.inputFiles.length == 1)
    assert(d1.collect().map(_.getLong(1)).toSeq == Seq(2L))
    // a one-day RANGE read prunes on the day files' disjoint min/max
    val dr = MorReader.readRange(spark, gd.tableDir.toString,
      Map("ts" -> MorReader.ColRange(Some("2023-05-01 00:00:00"),
        Some("2023-05-01 23:59:59.999999"))))
    assert(dr.inputFiles.length == 1)
    assert(dr.count() == 2)

    // MONTH and HOUR round out the time family
    val gm = new GraftTableGenerator(spark, wh, "hour_tbl")
    gm.create(graft.schema.GraftSchema.of(
      "ts" -> TimestampType, "v" -> LongType), Seq("hour(ts)"))
    gm.appendData(Seq(("2023-05-01 10:15:00", 1L), ("2023-05-01 11:05:00", 2L))
      .toDF("s", "v").select(col("s").cast("timestamp").as("ts"), col("v"))).commit()
    assert(graft.meta.SnapshotLog(gm.tableDir.toString).load()
      .dataFiles.map(_.partition("ts_hour")).sorted ==
      Seq("2023-05-01-10", "2023-05-01-11"))
    val h1 = MorReader.readValues(spark, gm.tableDir.toString, "ts",
      Seq("2023-05-01 11:05:00"))
    assert(h1.inputFiles.length == 1 && h1.count() == 1)
    assert(graft.meta.PartitionTransform.parse("month(ts)")
      .apply("2023-05-01 10:15:00", TimestampType).contains("2023-05"))
  }

  test("expireSnapshotsOlderThan: age-based retention keeps a suffix, never less than current") {
    import org.apache.spark.sql.types._
    var now = 0L
    val g = new GraftTableGenerator(spark, wh, "age_expiry", clock = () => now)
    g.create(graft.schema.GraftSchema.of("id" -> LongType), Nil)
    now = 1000L; g.appendData(spark.range(0, 10).toDF("id")).commit()
    now = 2000L; g.appendData(spark.range(10, 20).toDF("id")).commit()
    now = 3000L; g.appendData(spark.range(20, 30).toDF("id")).commit()
    // generous window → no-op
    now = 3500L
    g.expireSnapshotsOlderThan(maxAgeMs = 10000L)
    assert(graft.meta.SnapshotLog(g.tableDir.toString).load().snapshots.size == 3)
    // cutoff 2500: only the ts=3000 snapshot is in-window — the retained
    // history is that snapshot rebased onto one baseline (2 entries, the
    // expireSnapshots shape); ts=1000 time travel is gone
    now = 4000L
    g.expireSnapshotsOlderThan(maxAgeMs = 1500L)
    val st = graft.meta.SnapshotLog(g.tableDir.toString).load()
    assert(st.snapshots.size == 2)
    assert(g.read.count() == 30) // live rows unaffected
    assert(MorReader.readAt(spark, g.tableDir.toString, 1L).count() == 0)
    // everything older than the whole history → still keeps current state
    now = 99999L
    g.expireSnapshotsOlderThan(maxAgeMs = 1L)
    assert(g.read.count() == 30)
  }

  test("maintain(): one call compacts fragmentation, consolidates tombstones, caps history, GCs strays") {
    import org.apache.spark.sql.types._
    val g = new GraftTableGenerator(spark, wh, "maintain_tbl")
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "part" -> StringType), Seq("part"))
    // partition a: 5 fragment files; partition b: 1 file
    (0 until 5).foreach { i =>
      g.appendData(spark.range(i * 100L, i * 100L + 100L).toDF("id")
        .withColumn("part", lit("a"))).commit()
    }
    g.appendData(spark.range(1000L, 1100L).toDF("id")
      .withColumn("part", lit("b"))).commit()
    // three tombstone waves → 3 pos-delete files per partition
    g.positionalDelete(col("id") % 10 === 0).commit()
    g.positionalDelete(col("id") % 10 === 1).commit()
    g.positionalDelete(col("id") % 10 === 2).commit()
    val before = g.read.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val stray = g.tableDir.resolve("data").resolve("stray.parquet")
    Files.write(stray, Array[Byte](9))
    g.maintain(minFragFiles = 5, keepLast = 2, orphanGraceMs = 0L)
    val st = graft.meta.SnapshotLog(g.tableDir.toString).load()
    // a rewritten to one file (its tombstones die with the rewrite);
    // b keeps its single file and its tombstones fold into ONE vector
    assert(st.dataFiles.count(_.partition.get("part").contains("a")) == 1)
    assert(st.deleteFiles.count(_.kind == "pos") == 0)
    assert(st.deleteFiles.count(_.kind == "dv") == 1)
    assert(st.snapshots.size <= 3) // rebased baseline + keepLast
    assert(!Files.exists(stray))
    assert(g.read.select("id").collect().map(_.getLong(0)).sorted.toSeq == before)
  }

  test("readRange with an unbounded ColRange is a full read, not a crash") {
    val g = new GraftTableGenerator(spark, wh, "unbounded_range")
    g.create(Scenarios.OrdersSchema, Nil)
      .append(Bundles.ordersUnpartitioned(), 1, 40).commit()
    val df = MorReader.readRange(spark, g.tableDir.toString,
      Map("order_id" -> MorReader.ColRange()))
    assert(df.count() == 40)
  }

  test("compactSorted: disjoint file ranges, range read opens only intersecting files") {
    import graft.read.MorReader
    val g = new GraftTableGenerator(spark, wh, "sorted_compact_spec")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), Bundles.products(), 10, 100).commit() // ids 0..999
      .equalityDelete(Seq("widget"), col("color") === "red", Seq("color")).commit()
      .compactSorted("color", 200, Some(Seq("widget"))).commit()
    val dir = g.tableDir.toString

    // rewrite: 900 live rows → 5 files (4×200 + 100), old 10 files gone
    val st = graft.meta.SnapshotLog(dir).load()
    assert(st.dataFiles.size == 5)
    assert(st.dataFiles.map(_.recordCount).sorted.toSeq == Seq(100L, 200L, 200L, 200L, 200L))
    assert(st.deleteFiles.isEmpty) // eq-delete merged into the rewrite
    assert(g.read.count() == 900)

    // sorted color blocks (100 rows each, red deleted):
    // [black blue][brown gray][green orange][purple white][yellow]
    // ⇒ [blue..gray] intersects exactly the first two files
    val df = MorReader.readRange(spark, dir,
      Map("color" -> MorReader.ColRange(Some("blue"), Some("gray"))))
    assert(df.inputFiles.length == 2,
      s"want 2 files opened, got ${df.inputFiles.length}: ${df.inputFiles.mkString(",")}")
    val r = df.agg(count(lit(1)), sum(col("product_id").cast("long"))).head()
    assert(r.getLong(0) == 300) // blue(6), brown(8), gray(9) ⇒ 100 each
    // Σ ids ≡ 6,8,9 (mod 10) over 0..999
    val expect = (0 until 1000).filter(i => Set(6, 8, 9)(i % 10)).map(_.toLong).sum
    assert(r.getLong(1) == expect)
  }

  test("compactFragmented rewrites only partitions at the file-count threshold") {
    val g = new GraftTableGenerator(spark, wh, "frag")
    g.create(Scenarios.OrdersSchema, Seq("order_year"))
      .append(Seq(2019), Bundles.orders(), 5, 20).commit() // fragmented: 5 files
      .append(Seq(2020), Bundles.orders(), 1, 100).commit() // compact already
    val untouched = graft.meta.SnapshotLog(g.tableDir.toString).load()
      .dataFiles.filter(_.partition("order_year") == "2020").map(_.path)
    val rewritten = g.compactFragmented(minFiles = 3)
    g.commit()
    assert(rewritten == Seq(Map("order_year" -> "2019")))
    val files = graft.meta.SnapshotLog(g.tableDir.toString).load().dataFiles
    assert(files.count(_.partition("order_year") == "2019") == 1) // 5 → 1
    // the healthy partition's file is byte-identical, not rewritten
    assert(files.filter(_.partition("order_year") == "2020").map(_.path) == untouched)
    assert(g.read.count() == 200)
    // below threshold everywhere → nothing staged, no commit needed
    assert(g.compactFragmented(minFiles = 3).isEmpty)
    intercept[IllegalArgumentException](g.compactFragmented(1))
  }

  test("compactZOrder: range reads on EITHER z column open a strict file subset") {
    val g = new GraftTableGenerator(spark, wh, "zorder")
    g.create(Scenarios.OrdersSchema, Nil)
      .append(Bundles.ordersUnpartitioned(), 10, 100).commit()
      .compactZOrder(Seq("order_id", "source_id"), 100).commit()
    val dir = g.tableDir.toString
    val full = MorReader.read(spark, dir)
    assert(full.count() == 1000) // lossless rewrite
    assert(full.select("order_id").distinct().count() == 1000)
    val allFiles = full.inputFiles.length
    assert(allFiles == 10)
    // order_id was file-contiguous before; after interleaving with
    // source_id a tight order_id range must still prune
    val byId = MorReader.readRange(spark, dir,
      Map("order_id" -> MorReader.ColRange(Some("0"), Some("49"))))
    assert(byId.count() == 50)
    assert(byId.inputFiles.length < allFiles,
      s"order_id range opened all $allFiles files")
    // ...and source_id (random per row — UNPRUNABLE before the rewrite)
    // must now ALSO prune: that's the property z-order buys
    val srcVals = full.select("source_id").distinct()
      .collect().map(_.getInt(0)).sorted
    val (lo, hi) = (srcVals.head, srcVals(srcVals.length / 8))
    val bySrc = MorReader.readRange(spark, dir,
      Map("source_id" -> MorReader.ColRange(Some(lo.toString), Some(hi.toString))))
    val expected = full.where(col("source_id") >= lo && col("source_id") <= hi).count()
    assert(bySrc.count() == expected)
    assert(bySrc.inputFiles.length < allFiles,
      s"source_id range opened all $allFiles files")
  }

  test("optimistic concurrency: a stale writer's commit conflicts instead of interleaving") {
    val g = new GraftTableGenerator(spark, wh, "occ_demo")
    g.create(Scenarios.OrdersSchema, Nil)
      .append(Bundles.ordersUnpartitioned(), 1, 10).commit() // snap 1
    // another writer advances the table out-of-band (snap 2)
    val log = graft.meta.SnapshotLog(g.tableDir.toString)
    log.commit(graft.meta.Snapshot(2L, 2L, 0, 0, Nil, Nil))
    // this generator still believes the table is at snap 1 — its next
    // commit would be id 2 and MUST conflict, leaving its view unchanged
    g.positionalDelete(col("order_id") === 0)
    val e = intercept[graft.meta.CommitConflictException](g.commit())
    assert(e.getMessage.contains("another writer"))
    assert(log.load().snapshots.map(_.id) == Seq(1L, 2L)) // no interleave
    // a skipped id is equally a conflict
    intercept[graft.meta.CommitConflictException](
      log.commit(graft.meta.Snapshot(9L, 9L, 0, 0, Nil, Nil)))
  }

  test("reopening a generator without create() fails fast (no snapshot-id reuse)") {
    Scenarios.createSmallOrders(spark, wh) // table exists on disk
    val reopened = new GraftTableGenerator(spark, wh, "orders")
    val e = intercept[IllegalArgumentException] {
      reopened.equalityDelete(col("order_id") === 0, Seq("order_id"))
    }
    assert(e.getMessage.contains("create() must run"))
    intercept[IllegalArgumentException](reopened.commit())
    intercept[IllegalArgumentException](reopened.updateSpec(Seq("source_id"), Nil))
  }

  test("file metrics: per-column min/max/nulls in the log, honest for the lying empty file") {
    import graft.meta.SnapshotLog
    val g = new GraftTableGenerator(spark, wh, "metrics_demo")
      .create(Scenarios.OrdersSchema, Seq("order_year"))
      .append(Seq(2019), Bundles.orders(), 2, 50).commit()
      .appendEmptyFile(2019).commit()
    val st = SnapshotLog(g.tableDir.toString).load()
    val files = st.dataFiles.sortBy(_.path)
    assert(files.length == 3)
    val idField = Scenarios.OrdersSchema.fieldId("order_id")
    // file 0 covers ids [0,50), file 1 [50,100) — min/max recorded by field id
    val m0 = files(0).metrics(idField); val m1 = files(1).metrics(idField)
    assert(m0.min.contains("0") && m0.max.contains("49") && m0.nullCount == 0, m0.toString)
    assert(m1.min.contains("50") && m1.max.contains("99"), m1.toString)
    // the empty file LIES recordCount=1 but its metrics come from content:
    // no non-null values → (None, None) → prunable under any range
    val empty = files(2)
    assert(empty.recordCount == 1L)
    assert(empty.metrics(idField) == graft.meta.ColMetrics(None, None, 0L))
    // a range read prunes to one file and returns exactly its rows
    val pruned = graft.read.MorReader.readRange(spark, g.tableDir.toString,
      Map("order_id" -> graft.read.MorReader.ColRange(Some("60"), Some("70"))))
    assert(pruned.inputFiles.length == 1, pruned.inputFiles.mkString(","))
    assert(pruned.count() == 11)
    // string-typed bounds work too (lexical compare on product_name)
    val mName = files(0).metrics(Scenarios.OrdersSchema.fieldId("product_name"))
    assert(mName.min.isDefined && mName.max.isDefined)
  }

  test("current-writer eq-delete tables plan with ZERO parquet footer probes") {
    val g = new GraftTableGenerator(spark, wh, "noprobe_eq")
      .create(Scenarios.OrdersSchema, Seq("order_year"))
      .append(Seq(2019, 2020), Bundles.orders(), 1, 100).commit()
    (0 until 5).foreach { i =>
      g.equalityDelete(col("order_id") === i, Seq("order_id")).commit()
    }
    assert(g.read.count() == 195)
  }

  test("GenMain --conf k=v parses and reaches the session Hadoop conf (Main.java:97-116)") {
    val confs = graft.scenarios.GenMain.parseConfs(Array(
      "--warehouse", "/tmp/x", "--scenario", "all",
      "--conf", "fs.s3a.endpoint=http://localhost:9000",
      "--conf", "fs.s3a.path.style.access=true"))
    assert(confs == Seq("fs.s3a.endpoint" -> "http://localhost:9000",
      "fs.s3a.path.style.access" -> "true"))
    confs.foreach { case (k, v) => spark.sparkContext.hadoopConfiguration.set(k, v) }
    assert(spark.sparkContext.hadoopConfiguration.get("fs.s3a.endpoint")
      == "http://localhost:9000")
    intercept[IllegalArgumentException] {
      graft.scenarios.GenMain.parseConfs(Array("--conf", "not-a-pair"))
    }
    // trailing valueless flag fails fast instead of being silently ignored
    intercept[IllegalArgumentException] {
      graft.scenarios.GenMain.parseConfs(Array("--scenario", "all", "--conf"))
    }
    intercept[IllegalArgumentException] {
      graft.scenarios.GenMain.parseConfs(Array("--warehouse"))
    }
  }

  test("appendBulk (partitioned): one job, files per partition dir, reader-visible") {
    val g = new GraftTableGenerator(spark, wh, "bulk_demo")
    g.create(Scenarios.OrdersSchema, Seq("order_year"))
    val rows = graft.gen.Bundles.ordersUnpartitioned()
      .frame(spark, 0, 3000, None, Scenarios.OrdersSchema)
    g.appendBulk(rows, numFiles = 6).commit()
    val df = g.read
    assert(df.count() == 3000)
    // partition column survived in-file AND as directory layout
    assert(df.groupBy("order_year").count().collect().map(_.getLong(1)).sum == 3000)
    val pruned = graft.read.MorReader.readWhere(spark, g.tableDir.toString,
      Map("order_year" -> Set("2020")))
    assert(pruned.count() == df.where(col("order_year") === 2020).count())
    assert(pruned.count() > 0)
  }

  test("upsert: existing keys replaced, new keys inserted, time travel intact") {
    val g = new GraftTableGenerator(spark, wh, "upsert_demo")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), Bundles.products(), 1, 200).commit()
    // incoming batch: ids 100..249 (100..199 replace, 200..249 insert),
    // recognizably mutated (weight = id as a double)
    val incoming = Bundles.products()
      .frame(spark, 100, 150, Some("widget"), Scenarios.ProductsSchema)
      .withColumn("weight", col("product_id").cast("double"))
    g.upsert(incoming, Seq("product_id")).commit()

    val df = g.read
    assert(df.count() == 250)
    assert(df.select("product_id").distinct().count() == 250)
    // replaced rows carry the new weight; untouched rows keep the old one
    assert(df.where(col("product_id") === 150 && col("weight") === 150.0).count() == 1)
    assert(df.where(col("product_id") < 100 && col("weight") === col("product_id")
      .cast("double")).count() == 0)
    // pre-upsert snapshot unchanged
    assert(g.readAt(1).count() == 200)
  }

  test("eq-delete sequence visibility property: re-inserted keys survive") {
    val g = new GraftTableGenerator(spark, wh, "seq_vis")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), Bundles.products(), 1, 50).commit()
      .equalityDelete(Seq("widget"), col("product_id") < 50, Seq("product_id")).commit()
    assert(g.read.count() == 0)
    // same key range cannot be re-inserted (ids are monotonic), but color
    // keys CAN repeat: delete color black then insert rows with black again
    g.equalityDelete(Seq("widget"), col("color") === "black", Seq("color")).commit()
      .append(Seq("widget"), Bundles.products(), 1, 50).commit()
    val df = g.read
    assert(df.count() == 50) // all second-wave rows survive both deletes
    assert(df.where(col("color") === "black").count() == 5)
  }

  test("metadata tables mirror the S10 manifest (files/deletes/snapshots/partitions)") {
    import graft.read.MetaTables
    val dir = Scenarios.createProductsWithEqDeletes(spark, wh).tableDir.toString

    val files = MetaTables.files(spark, dir).orderBy("file_path").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(files.toSeq == Seq(
      ("data/gadget/gadget-00.parquet", "category=gadget", 0, 5L, 200L),
      ("data/gizmo/gizmo-00.parquet", "category=gizmo", 0, 3L, 200L),
      ("data/gizmo/gizmo-01.parquet", "category=gizmo", 0, 5L, 200L),
      ("data/widget/widget-00.parquet", "category=widget", 0, 1L, 200L),
      ("data/widget/widget-01.parquet", "category=widget", 0, 5L, 200L)))

    val dels = MetaTables.deleteFiles(spark, dir).orderBy("file_path").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3), r.getLong(4)))
    assert(dels.toSeq == Seq(
      ("data/gadget/eqdelete-gadget-00.parquet", "eq", "product_id", 6L),
      ("data/gizmo/eqdelete-gizmo-00.parquet", "eq", "color", 4L),
      ("data/gizmo/eqdelete-gizmo-01.parquet", "eq", "product_id", 6L),
      ("data/widget/delete-widget-00.parquet", "pos", "", 7L),
      ("data/widget/eqdelete-widget-00.parquet", "eq", "product_id", 2L),
      ("data/widget/eqdelete-widget-01.parquet", "eq", "color", 4L),
      ("data/widget/eqdelete-widget-02.parquet", "eq", "product_id", 6L)))

    val snaps = MetaTables.snapshots(spark, dir).orderBy("snapshot_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(snaps.toSeq == Seq(
      (1L, 1L, 1L, 0L, 200L), (2L, 2L, 0L, 1L, 0L), (3L, 3L, 1L, 0L, 200L),
      (4L, 4L, 0L, 2L, 0L), (5L, 5L, 3L, 0L, 600L), (6L, 6L, 0L, 3L, 0L),
      (7L, 7L, 0L, 1L, 0L)))

    val parts = MetaTables.partitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(parts.toSeq == Seq(
      ("category=gadget", 1L, 200L), ("category=gizmo", 2L, 400L),
      ("category=widget", 2L, 400L)))

    // time travel: as of snapshot 5 the third eq-delete wave and pos wave
    // haven't committed, and only the first four data files exist... plus
    // the three seq-5 appends (snapshot 5 IS the third append)
    assert(MetaTables.files(spark, dir, Some(4L)).count() == 2)
    assert(MetaTables.deleteFiles(spark, dir, Some(4L)).count() == 3)
  }

  test("metadata tables reflect compaction: removed files leave, asOf resurrects") {
    import graft.read.MetaTables
    val g = new GraftTableGenerator(spark, wh, "meta_compact")
    g.create(Scenarios.OrdersSchema, Seq("order_year"))
      .append(Seq(2020), Bundles.orders(), 2, 100).commit()
      .positionalDelete(Seq(2020), col("order_id") % 2 === 0).commit()
      .compact().commit()
    val dir = g.tableDir.toString
    val live = MetaTables.files(spark, dir).collect()
    assert(live.length == 1) // compaction rewrote 2 files into 1
    assert(MetaTables.deleteFiles(spark, dir).count() == 0)
    // pre-compaction snapshot still sees the original manifest
    assert(MetaTables.files(spark, dir, Some(2L)).count() == 2)
    assert(MetaTables.deleteFiles(spark, dir, Some(2L)).count() == 1)

    // all_data_files: both rewritten originals stay visible as live=false
    // time-travel surface beside the one live compacted file
    val all = MetaTables.allDataFiles(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getBoolean(5)))
    assert(all.count(!_._3) == 2 && all.count(_._3) == 1)
    assert(all.filter(_._3).map(_._2).toSeq == Seq(3L)) // rewrite seq

    // history: linear parent chain over the three commits
    val hist = MetaTables.history(spark, dir).orderBy("snapshot_id").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(hist.toSeq == Seq((1L, None), (2L, Some(1L)), (3L, Some(2L))))
  }

  test("delete-file pruning: a pruned scan applies only intersecting delete files") {
    val g = new GraftTableGenerator(spark, wh, "del_prune")
    g.create(Scenarios.OrdersSchema, Nil)
      .append(Bundles.ordersUnpartitioned(), 10, 100).commit() // files [k*100,(k+1)*100)
    for (k <- 0 until 10) // one eq wave per file-range: ids k*100+7..+9
      g.equalityDelete(col("order_id") >= k * 100 + 7 && col("order_id") <= k * 100 + 9,
        Seq("order_id")).commit()
    g.positionalDelete(col("order_id") < 5).commit() // references file 0 only
    val dir = g.tableDir.toString
    // full read: all 11 delete files apply → 1000 − 30 eq − 5 pos
    assert(MorReader.read(spark, dir).count() == 965)
    // range read [250,449]: files 2..4 survive (envelope [200,499]); the
    // range predicate kills eq waves outside [250,449] and the pos file's
    // referenced-path bounds miss every surviving file → 2 of 11 planned
    val before = MorReader.deleteFilesPlanned.get()
    val res = MorReader.readRange(spark, dir,
      Map("order_id" -> MorReader.ColRange(Some("250"), Some("449"))))
    val cnt = res.count()
    val planned = MorReader.deleteFilesPlanned.get() - before
    assert(cnt == 194, s"expected 194 live rows in range, got $cnt") // 200 − {307..309, 407..409}
    assert(planned == 2, s"expected 2 surviving delete files, planned $planned")
    // correctness at the boundary: 307 dead, 310 alive
    assert(res.where(col("order_id") === 307).count() == 0)
    assert(res.where(col("order_id") === 310).count() == 1)
  }

  test("open() attaches a maintenance writer; generated-id appends stay disabled") {
    val g = new GraftTableGenerator(spark, wh, "opened")
    g.create(Scenarios.OrdersSchema, Seq("order_year"))
      .append(Seq(2019), Bundles.orders(), 2, 100).commit()
      .positionalDelete(Seq(2019), col("order_id") % 2 === 0).commit()
    val m = new GraftTableGenerator(spark, wh, "opened").open()
    m.compact().commit() // maintenance through the second writer
    assert(g.read.count() == 100) // live rows unchanged by the rewrite
    assert(graft.read.MetaTables.files(spark, g.tableDir.toString).count() == 1)
    // the id counter is not persisted — minting ids from the opened
    // writer would restart at 0, so it must refuse
    val e = intercept[IllegalArgumentException](
      m.append(Seq(2020), Bundles.orders(), 1, 100))
    assert(e.getMessage.contains("DataFrame writes"))
    intercept[IllegalArgumentException](
      new GraftTableGenerator(spark, wh, "no_such_table").open())
  }

  test("hard-contention CAS soak: 4 concurrent writers, no lost update, no shared file") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import org.apache.spark.sql.types.LongType
    val g0 = new GraftTableGenerator(spark, wh, "occ_soak")
    g0.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "src" -> LongType, "batch" -> LongType), Nil)
    val threads = 4; val batches = 8; val rowsPer = 5
    implicit val ec: ExecutionContext = ExecutionContext.global
    val work = (0 until threads).map { t =>
      Future {
        // each writer is its OWN generator instance — the real multi-writer
        // shape (maintenance beside ingest); contention resolves through
        // commitWithRetry's refresh + re-stage loop
        val w = new GraftTableGenerator(spark, wh, "occ_soak").open()
        for (b <- 0 until batches)
          w.commitWithRetry(maxAttempts = 100) { x =>
            x.appendData(spark.range(0, rowsPer).toDF("id")
              .withColumn("src", lit(t.toLong))
              .withColumn("batch", lit(b.toLong)))
          }
      }
    }
    Await.result(Future.sequence(work), Duration.Inf)
    val st = graft.meta.SnapshotLog(s"$wh/occ_soak").load()
    // every batch committed exactly once, snapshot ids contiguous
    assert(st.snapshots.map(_.id) == (1L to (threads * batches)).toSeq)
    val df = MorReader.read(spark, s"$wh/occ_soak")
    assert(df.count() == threads * batches * rowsPer)
    val perBatch = df.groupBy("src", "batch").count().collect()
    assert(perBatch.length == threads * batches)
    assert(perBatch.forall(_.getLong(2) == rowsPer.toLong))
    // no two manifest entries share a path (atomic name claim), and every
    // registered file's CONTENT matches its committing batch — a stage
    // race that overwrote another writer's bytes would break this
    val entries = st.snapshots.flatMap(_.dataFiles)
    assert(entries.map(_.path).distinct.size == entries.size)
    // row lineage stays collision-free across racing commits
    val ids = MorReader.read(spark, s"$wh/occ_soak", None, Map.empty,
      Map.empty, Map.empty, Seq(MorReader.RowIdCol))
    assert(ids.select(MorReader.RowIdCol).distinct().count() ==
      threads * batches * rowsPer)
  }

  test("commitWithRetry: a stale writer refreshes and re-stages instead of failing") {
    val g = new GraftTableGenerator(spark, wh, "occ_retry")
    g.create(Scenarios.OrdersSchema, Nil)
      .append(Bundles.ordersUnpartitioned(), 1, 10).commit() // snap 1
    // another writer advances the table out-of-band → g is stale
    val log = graft.meta.SnapshotLog(g.tableDir.toString)
    log.commit(graft.meta.Snapshot(2L, 2L, 0, 0, Nil, Nil))
    var attempts = 0
    g.commitWithRetry() { w =>
      attempts += 1
      w.positionalDelete(col("order_id") === 0)
    }
    assert(attempts == 2) // staged once stale (conflict), once refreshed
    assert(log.load().snapshots.map(_.id) == Seq(1L, 2L, 3L))
    assert(g.read.count() == 9)
    // plain commit() after refresh also works (manual recovery path)
    g.positionalDelete(col("order_id") === 1)
    g.commit()
    assert(g.read.count() == 8)
  }

  test("rollbackTo drops later snapshots, deletes their files, prunes dangling refs") {
    val g = new GraftTableGenerator(spark, wh, "rollback")
    g.create(Scenarios.OrdersSchema, Nil)
      .append(Bundles.ordersUnpartitioned(), 1, 100).commit() // snap 1
      .positionalDelete(col("order_id") < 10).commit()        // snap 2: 90 live
      .append(Bundles.ordersUnpartitioned(), 1, 100).commit() // snap 3: 190 live
      .tag("bad_batch")                                        // ref at snap 3
    val badFile = graft.meta.SnapshotLog(g.tableDir.toString).load()
      .snapshots.find(_.id == 3L).get.dataFiles.head.path
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(badFile)))
    g.rollbackTo(2L)
    assert(g.read.count() == 90)
    val st = graft.meta.SnapshotLog(g.tableDir.toString).load()
    assert(st.snapshots.map(_.id) == Seq(1L, 2L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(badFile)))
    assert(g.tags.isEmpty) // the dangling ref went with its snapshot
    // the generator continues cleanly from the rollback point
    g.append(Bundles.ordersUnpartitioned(), 1, 50).commit()
    assert(g.read.count() == 140)
    assert(graft.meta.SnapshotLog(g.tableDir.toString).load()
      .snapshots.map(_.id) == Seq(1L, 2L, 3L))
    // history stays a consistent linear chain across the truncation: the
    // post-rollback commit reuses id 3 with parent 2, no dangling parent
    val hist = graft.read.MetaTables.history(spark, g.tableDir.toString)
      .orderBy("snapshot_id").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(hist.toSeq == Seq((1L, None), (2L, Some(1L)), (3L, Some(2L))))
    intercept[IllegalArgumentException](g.rollbackTo(99L))
  }

  test("commitAudited publishes good batches and rolls back rejected ones") {
    val g = new GraftTableGenerator(spark, wh, "wap")
    g.create(Scenarios.OrdersSchema, Nil)
      .append(Bundles.ordersUnpartitioned(), 1, 100).commit()
    // audit rule: the table may never exceed 150 rows
    val ok = g.commitAudited(_.append(Bundles.ordersUnpartitioned(), 1, 40))(
      _.count() <= 150)
    assert(ok && g.read.count() == 140)
    val rejected = g.commitAudited(_.append(Bundles.ordersUnpartitioned(), 1, 40))(
      _.count() <= 150)
    assert(!rejected)
    assert(g.read.count() == 140) // the bad batch never became history
    assert(graft.meta.SnapshotLog(g.tableDir.toString).load().snapshots.size == 2)
  }

  test("commit stamps the v2 snapshot fields: operation kind + commit timestamp") {
    import graft.meta.SnapshotLog
    var t = 0L
    val g = new GraftTableGenerator(spark, wh, "v2_fields",
      clock = () => { t += 1000; t })
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), Bundles.products(), 1, 100).commit()       // append
      .equalityDelete(Seq("widget"), col("product_id") < 10, Seq("product_id"))
      .commit()                                                          // delete
    val incoming = Bundles.products()
      .frame(spark, 50, 100, Some("widget"), Scenarios.ProductsSchema)
    g.upsert(incoming, Seq("product_id")).commit()                       // overwrite
      .compact().commit()                                                // replace
    val snaps = SnapshotLog(g.tableDir.toString).load().snapshots
    assert(snaps.map(_.operation) == Seq("append", "delete", "overwrite", "replace"))
    // one clock() call per commit, monotonic, never the 0 default
    assert(snaps.map(_.timestampMs) == Seq(1000L, 2000L, 3000L, 4000L))
    // expiry's rebased baseline: replace + the horizon snapshot's timestamp
    g.expireSnapshots(keepLast = 1)
    val after = SnapshotLog(g.tableDir.toString).load().snapshots
    assert(after.head.operation == "replace")
    assert(after.head.timestampMs == 3000L) // horizon = snapshot 3
  }

  test("asOfTime resolves by writer-stamped timestamp; pre-history errors") {
    var t = 0L
    val g = new GraftTableGenerator(spark, wh, "ts_travel",
      clock = () => { t += 1000; t })
    g.create(Scenarios.OrdersSchema, Seq("order_year"))
      .append(Seq(2019), Bundles.orders(), 1, 100).commit()  // t=1000
      .append(Seq(2020), Bundles.orders(), 1, 100).commit()  // t=2000
      .append(Seq(2021), Bundles.orders(), 1, 100).commit()  // t=3000
    val dir = g.tableDir.toString
    assert(MorReader.readAtTime(spark, dir, 1500L).count() == 100) // between commits
    assert(MorReader.readAtTime(spark, dir, 2000L).count() == 200) // inclusive
    assert(MorReader.readAtTime(spark, dir, 999999L).count() == 300) // after all
    val e = intercept[IllegalArgumentException](
      MorReader.readAtTime(spark, dir, 999L))
    assert(e.getMessage.contains("no snapshot committed at or before"))
  }

  test("timestamp-windowed incremental scans resolve endpoints via commit clocks") {
    var t = 0L
    val g = new GraftTableGenerator(spark, wh, "ts_incr",
      clock = () => { t += 1000; t })
    g.create(Scenarios.OrdersSchema, Nil)
      .append(Bundles.ordersUnpartitioned(), 1, 100).commit()  // snap 1 @1000: 0..99
      .append(Bundles.ordersUnpartitioned(), 1, 100).commit()  // snap 2 @2000: 100..199
      .positionalDelete(col("order_id") < 5).commit()          // snap 3 @3000
      .append(Bundles.ordersUnpartitioned(), 1, 100).commit()  // snap 4 @4000: 200..299
    val dir = g.tableDir.toString
    // window (1500, 3500]: covers snaps 2 and 3 → appends are snap 2 only
    val app = MorReader.appendsBetweenTimes(spark, dir, 1500L, 3500L)
      .select("order_id").collect().map(_.getInt(0)).sorted
    assert(app.toSeq == (100 until 200))
    // changelog over the same window: inserts 100..199, deletes 0..4
    val ch = MorReader.changelogBetweenTimes(spark, dir, 1500L, 3500L)
    assert(ch.where(col("change_kind") === "insert").count() == 100)
    assert(ch.where(col("change_kind") === "delete")
      .select("order_id").collect().map(_.getInt(0)).sorted.toSeq == (0 until 5))
    // a fromTs before all history starts from the beginning
    assert(MorReader.appendsBetweenTimes(spark, dir, 0L, 2500L).count() == 200)
  }

  test("named refs: tag, read at tag, retarget, remove; invalid targets fail") {
    val g = new GraftTableGenerator(spark, wh, "tagged")
    g.create(Scenarios.OrdersSchema, Seq("order_year"))
      .append(Seq(2019), Bundles.orders(), 1, 100).commit()
      .tag("v1") // defaults to current snapshot (1)
      .append(Seq(2020), Bundles.orders(), 1, 100).commit()
    val dir = g.tableDir.toString
    assert(g.tags == Map("v1" -> 1L))
    assert(MorReader.readRef(spark, dir, "v1").count() == 100)
    assert(g.read.count() == 200)
    g.tag("v1", 2L) // retarget
    assert(MorReader.readRef(spark, dir, "v1").count() == 200)
    intercept[IllegalArgumentException](g.tag("broken", 99L)) // uncommitted id
    g.removeTag("v1")
    assert(g.tags.isEmpty)
    val e = intercept[IllegalArgumentException](MorReader.readRef(spark, dir, "v1"))
    assert(e.getMessage.contains("unknown ref"))
  }

  test("positional-delete file ordering invariant (path, pos) strictly increasing") {
    val g = new GraftTableGenerator(spark, wh, "ordering")
    g.create(Scenarios.OrdersSchema, Seq("order_year"))
      .append(Seq(2020), Bundles.orders(), 3, 100).commit()
      .positionalDelete(Seq(2020), col("order_id") % 3 === 0).commit()
    val delFile = s"$wh/ordering/data/2020/delete-2020-00.parquet"
    val rows = spark.read.parquet(delFile).select("file_path", "pos").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length == 100)
    assert(rows.toSeq == rows.toSeq.sorted)
    assert(rows.toSet.size == rows.length)
  }
}
