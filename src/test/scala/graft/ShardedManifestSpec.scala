package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.meta.{ColMetrics, DataFileEntry, DeleteFileEntry, Snapshot, SnapshotLog}

/** Sharded manifest storage: a snapshot with an oversized file list writes
  * manifest-group files instead of one giant snap JSON, loads back
  * identically (order included), and expiry sweeps unreferenced groups. */
class ShardedManifestSpec extends SparkSpec {

  private def entry(i: Int): DataFileEntry =
    DataFileEntry(f"/wh/t/data/f$i%06d.parquet", Map("p" -> (i % 10).toString),
      0, 1, 1L, 100L,
      Map(1 -> ColMetrics(Some(i.toString), Some((i + 1).toString), 0L)))

  private def freshLog(): (SnapshotLog, java.nio.file.Path) = {
    val dir = Files.createTempDirectory("shard-log")
    val log = SnapshotLog(dir.toString)
    log.init()
    log.writeSchema(1, graft.schema.GraftSchema.of(
      "v" -> org.apache.spark.sql.types.LongType))
    log.writeSpec(0, Nil)
    (log, dir.resolve("metadata"))
  }

  private def manifestFiles(meta: java.nio.file.Path): Seq[String] = {
    val s = Files.list(meta)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("manifest-")).toSeq.sorted
    finally s.close()
  }

  test("oversized snapshot shards into manifest groups and round-trips in order") {
    val (log, meta) = freshLog()
    val data = (0 until 50000).map(entry)
    val dels = (0 until 12000).map(i => DeleteFileEntry(
      f"/wh/t/data/del$i%05d.parquet", Map.empty, "pos", Nil, Nil, 2L))
    log.commit(Snapshot(1L, 1L, 1, 0, data, Nil, Nil, Nil, 1000L, "append"))
    log.commit(Snapshot(2L, 2L, 1, 0, Nil, dels, Nil, Nil, 2000L, "delete"))

    // snap files stay metadata-scale; groups carry the entries
    assert(Files.size(meta.resolve("snap-1.json")) < 4096)
    assert(Files.size(meta.resolve("snap-2.json")) < 4096)
    val mans = manifestFiles(meta)
    // ceil(50000/4096)=13 data groups + ceil(12000/4096)=3 delete groups
    // (each sharded commit also writes its empty other-side list inline)
    assert(mans.count(_.contains("-data-")) == 13, s"got $mans")
    assert(mans.count(_.contains("-delete-")) == 3)

    val st = log.load()
    assert(st.snapshots.map(_.id) == Seq(1L, 2L))
    // exact, order included — modulo commit-time row-id assignment, which
    // must be contiguous in entry order (50k files × 100 rows)
    val loaded = st.snapshots.head.dataFiles
    assert(loaded.map(_.copy(firstRowId = -1L)) == data)
    assert(loaded.map(_.firstRowId) == (0 until 50000).map(_ * 100L),
      "firstRowId assignment must be contiguous in entry order")
    assert(st.snapshots.head.nextRowId == 50000L * 100)
    assert(st.snapshots(1).deleteFiles == dels)
  }

  test("manifests metadata table reports group units from the legend, groups unread") {
    val (log, meta) = freshLog()
    val data = (0 until 50000).map(entry)
    log.commit(Snapshot(1L, 1L, 1, 0, data, Nil, Nil, Nil, 1000L, "append"))
    log.commit(Snapshot(2L, 2L, 1, 0, (50000 until 50010).map(entry), Nil,
      Nil, Nil, 2000L, "append"))
    val before = SnapshotLog.driverGroupEntriesParsed.get()
    val idx = log.manifestIndex()
    // snap 1: 13 sharded data groups with legend stats; snap 2: inline
    val g1 = idx.filter(r => r._1 == 1L && r._2 == "data")
    assert(g1.size == 13, s"got ${g1.size} units")
    assert(g1.forall(_._3.startsWith("manifest-1-")))
    assert(g1.map(_._4).sum == 50000 && g1.map(_._5).sum == 50000L * 100)
    assert(g1.forall(r => r._6 == 1L && r._7 == 1L)) // seq bounds from legend
    val g2 = idx.filter(r => r._1 == 2L && r._2 == "data")
    assert(g2 == Seq((2L, "data", "inline", 10, 1000L, 1L, 1L)))
    // DATA group stats must come from the persisted legend — zero
    // driver-side group-entry parsing (the 10^7-file contract)
    assert(SnapshotLog.driverGroupEntriesParsed.get() == before,
      "manifestIndex must not materialize data manifest groups")
    // the MetaTables frame mirrors the index
    val df = graft.read.MetaTables.manifests(spark,
      meta.getParent.toString)
    assert(df.where(df("manifest") =!= "inline").count() == 13L)
  }

  test("files/partitions metadata tables go distributed on a sharded log") {
    val (log, meta) = freshLog()
    log.commit(Snapshot(1L, 1L, 1, 0, (0 until 50000).map(entry), Nil,
      Nil, Nil, 1000L, "append"))
    // a compaction-style removal must fold in the distributed path too;
    // compacted files carry their row ids in-file
    log.commit(Snapshot(2L, 2L, 1, 0,
      (50000 until 50005).map(entry(_).copy(lineageInFile = true)), Nil,
      Seq(entry(0).path, entry(1).path), Nil, 2000L, "replace"))
    val tableDir = meta.getParent.toString
    val before = SnapshotLog.driverGroupEntriesParsed.get()
    val df = graft.read.MetaTables.files(spark, tableDir)
    assert(df.count() == 50003L)
    assert(df.where(df("record_count") === 100L).count() == 50003L)
    val parts = graft.read.MetaTables.partitions(spark, tableDir).collect()
    assert(parts.length == 10)
    assert(parts.map(_.getLong(2)).sum == 50003L * 100)
    // entries ledger goes distributed on sharded logs too
    val ent = graft.read.MetaTables.entries(spark, tableDir)
    assert(ent.where(ent("status") === "added").count() == 50005L)
    assert(ent.where(ent("status") === "deleted").count() == 2L)
    // group entries parsed inside TASKS, never on the driver
    assert(SnapshotLog.driverGroupEntriesParsed.get() == before,
      "files/partitions/entries must not materialize manifest groups on the driver")
  }

  test("small snapshots stay inline — no manifest files") {
    val (log, meta) = freshLog()
    log.commit(Snapshot(1L, 1L, 1, 0, (0 until 100).map(entry), Nil,
      Nil, Nil, 1000L, "append"))
    assert(manifestFiles(meta).isEmpty)
    assert(log.load().snapshots.head.dataFiles.size == 100)
  }

  test("history rewrite sweeps the dropped snapshot's manifest groups") {
    val (log, meta) = freshLog()
    log.commit(Snapshot(1L, 1L, 1, 0, (0 until 20000).map(entry), Nil,
      Nil, Nil, 1000L, "append"))
    log.commit(Snapshot(2L, 2L, 1, 0, (20000 until 40000).map(entry), Nil,
      Nil, Nil, 2000L, "append"))
    assert(manifestFiles(meta).nonEmpty)
    val keep = log.load().snapshots.filter(_.id == 2L)
    log.rewrite(keep)
    val after = log.load()
    assert(after.snapshots.map(_.id) == Seq(2L))
    assert(after.snapshots.head.dataFiles.size == 20000)
    // snapshot 1's groups are gone; snapshot 2's (rewritten) groups remain
    val mans = manifestFiles(meta)
    assert(mans.nonEmpty && mans.forall(_.startsWith("manifest-2-")), s"got $mans")
  }

  test("outline load leaves sharded data lists unmaterialized; task planning matches eager") {
    val (log, _) = freshLog()
    log.commit(Snapshot(1L, 1L, 1, 0, (0 until 50000).map(entry), Nil,
      Nil, Nil, 1000L, "append"))
    // a later snapshot REMOVES every 1000th file (metadata delete) — the
    // outline planner must honor removals inside its tasks
    log.commit(Snapshot(2L, 2L, 1, 0, Nil, Nil,
      (0 until 50000 by 1000).map(i => f"/wh/t/data/f$i%06d.parquet"),
      Nil, 2000L, "delete"))
    val o = log.loadOutline().mainOnly
    assert(o.hasShardedData)
    assert(o.outlines.head.snapshot.dataFiles.isEmpty,
      "outline must not materialize sharded entries on the driver")
    assert(o.outlines.head.dataManifests.size == 13) // ceil(50000/4096)
    val live = o.schema
    val pf = Map("p" -> Set("3"))
    val rg = Map("v" -> graft.read.MorReader.ColRange(Some("10000"), Some("19999")))
    val before = graft.read.MorReader.distributedPlans.get()
    val viaOutline =
      graft.read.MorReader.planDataFilesOutline(spark, o, live, pf, rg)
    assert(graft.read.MorReader.distributedPlans.get() == before + 1,
      "group files must plan in a Spark job")
    val eager = log.load().mainOnly
    val viaEager =
      graft.read.MorReader.planDataFiles(spark, eager.dataFiles, live, pf, rg)
    assert(viaOutline.nonEmpty && viaOutline == viaEager,
      s"outline selection must be identical (outline=${viaOutline.size}, " +
        s"eager=${viaEager.size})")
    assert(viaOutline.forall(_.partition("p") == "3"))
    val removedKept = viaOutline.map(_.path)
      .filter(_.matches(""".*f\d*000\.parquet"""))
    assert(removedKept.isEmpty, s"removed files must not plan: $removedKept")
  }

  test("read() over a sharded table plans manifest groups in tasks end-to-end") {
    import org.apache.spark.sql.functions._
    sys.props("graft.shard.threshold") = "4"
    try {
      val wh = Files.createTempDirectory("shard-read").toString
      val g = new graft.table.GraftTableGenerator(spark, wh, "t")
      g.create(graft.schema.GraftSchema.of(
        "id" -> org.apache.spark.sql.types.LongType,
        "part" -> org.apache.spark.sql.types.StringType), Seq("part"))
      // 6 partition values → 6 files > threshold 4 → the snapshot shards
      g.appendData(spark.range(0, 600).toDF("id")
        .withColumn("part", concat(lit("p"), (col("id") % 6).cast("string"))))
        .commit()
      assert(SnapshotLog(g.tableDir.toString).loadOutline().hasShardedData,
        "precondition: the commit must have sharded")
      g.positionalDelete(col("id") < 60).commit()
      val before = graft.read.MorReader.distributedPlans.get()
      val ids = g.read.select("id").collect().map(_.getLong(0)).toSet
      assert(ids == (60L until 600L).toSet)
      assert(graft.read.MorReader.distributedPlans.get() > before,
        "the sharded read must plan through the outline job")
      // partition-pruned read keeps pruning through the outline path
      val p3 = graft.read.MorReader.readWhere(spark, g.tableDir.toString,
        Map("part" -> Set("p3"))).select("id").collect().map(_.getLong(0)).toSet
      assert(p3 == (63L until 600L by 6).toSet)
    } finally sys.props.remove("graft.shard.threshold")
  }

  test("100k-file outline planning: zero driver-side group materialization, exact selection") {
    import graft.read.MorReader
    val (log, _) = freshLog()
    log.commit(Snapshot(1L, 1L, 1, 0, (0 until 100000).map(entry), Nil,
      Nil, Nil, 1000L, "append"))
    val o = log.loadOutline().mainOnly
    assert(o.hasShardedData)
    assert(o.outlines.head.dataManifests.size == 25) // ceil(100000/4096)
    assert(o.outlines.head.snapshot.dataFiles.isEmpty)
    val live = o.schema
    val before = SnapshotLog.driverGroupEntriesParsed.get()
    val t0 = System.nanoTime()
    val planned = MorReader.planDataFilesOutline(spark, o, live,
      Map("p" -> Set("7")),
      Map("v" -> MorReader.ColRange(Some("30000"), Some("49999"))))
    val ms = (System.nanoTime() - t0) / 1e6
    assert(SnapshotLog.driverGroupEntriesParsed.get() == before,
      "outline planning must not materialize group entries on the driver")
    val expected = (0 until 100000).filter(i =>
      i % 10 == 7 && i + 1 >= 30000 && i <= 49999)
    assert(planned.map(_.path) == expected.map(i => f"/wh/t/data/f$i%06d.parquet"))
    info(f"100k-file outline plan: $ms%.0f ms wall, ${planned.size} files selected")
    // sanity: the counter DOES count when the eager path materializes
    val eagerBefore = SnapshotLog.driverGroupEntriesParsed.get()
    log.load()
    assert(SnapshotLog.driverGroupEntriesParsed.get() - eagerBefore == 100000L,
      "eager load must register its driver materialization")
  }

  test("manifest-group stats answer COUNT/MIN/MAX on a sharded table, metadata-only") {
    import org.apache.spark.sql.functions._
    import graft.read.MorReader
    import graft.read.MorReader.MetaAgg
    sys.props("graft.shard.threshold") = "4"
    try {
      val wh = Files.createTempDirectory("shard-agg").toString
      val g = new graft.table.GraftTableGenerator(spark, wh, "t")
      g.create(graft.schema.GraftSchema.of(
        "id" -> org.apache.spark.sql.types.LongType,
        "part" -> org.apache.spark.sql.types.StringType), Seq("part"))
      g.appendData(spark.range(0, 600).toDF("id")
        .withColumn("part", concat(lit("p"), (col("id") % 6).cast("string"))))
        .commit()
      val dir = g.tableDir.toString
      val out = SnapshotLog(dir).loadOutline().mainOnly
      assert(out.hasShardedData, "precondition: the commit must have sharded")
      val o = out.outlines.head
      assert(o.dataManifestStats.size == o.dataManifests.size &&
        o.dataManifestStats.nonEmpty,
        "sharded snap must carry aligned inline group stats")
      assert(o.dataManifestStats.map(_.rows).sum == 600L)
      // the aggregates answer from the snap file's group stats — the group
      // files themselves stay unread (snapshot.dataFiles is empty)
      assert(o.snapshot.dataFiles.isEmpty)
      val res = MorReader.fastAggsMetadataOnly(dir,
        Seq(MetaAgg.Count, MetaAgg.MinOf("id"), MetaAgg.MaxOf("id")))
      assert(res == Some(Seq(Some("600"), Some("0"), Some("599"))), s"got $res")
      // a live delete defeats the conservative sharded check → scan path
      g.positionalDelete(col("id") < 60).commit()
      assert(MorReader.fastAggsMetadataOnly(dir, Seq(MetaAgg.Count)).isEmpty,
        "sharded fast aggs must refuse once a delete may apply")
    } finally sys.props.remove("graft.shard.threshold")
  }

  test("sharded state plans through the distributed path with correct selection") {
    val (log, _) = freshLog()
    log.commit(Snapshot(1L, 1L, 1, 0, (0 until 20000).map(entry), Nil,
      Nil, Nil, 1000L, "append"))
    val st = log.load()
    val live = st.schema
    spark.conf.set(graft.read.MorReader.DistributedPlanThresholdConf, "1000")
    try {
      val planned = graft.read.MorReader.planDataFiles(spark, st.dataFiles, live,
        Map("p" -> Set("7")),
        Map("v" -> graft.read.MorReader.ColRange(Some("5000"), Some("9999"))))
      // p=7 ∧ v∈[5000,9999]: i ≡ 7 (mod 10) with [i, i+1] ∩ [5000, 9999]
      val expected = (0 until 20000).filter(i =>
        i % 10 == 7 && i + 1 >= 5000 && i <= 9999)
      assert(planned.map(_.path) == expected.map(i => f"/wh/t/data/f$i%06d.parquet"))
    } finally spark.conf.unset(graft.read.MorReader.DistributedPlanThresholdConf)
  }
}
