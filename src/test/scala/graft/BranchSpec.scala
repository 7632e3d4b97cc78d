package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.meta.SnapshotLog
import graft.read.MorReader
import graft.scenarios.Scenarios
import graft.table.GraftTableGenerator

/** Writable branches (the Iceberg branch surface): fork, branch-routed
  * commits, lineage visibility, fast-forward publication, divergence
  * refusal, and maintenance safety around live branches. */
class BranchSpec extends SparkSpec {

  private def freshWh(tag: String): String =
    Files.createTempDirectory(s"graft_branch_$tag").toString

  test("branch writes are invisible to main and visible to the branch") {
    val g = new GraftTableGenerator(spark, freshWh("vis"), "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 20).commit()
    g.createBranch("dev")
    g.writeTo("dev")
      .append(Seq("gizmo"), graft.gen.Bundles.products(), 1, 10).commit()
    // main: untouched; branch: fork + append
    assert(g.writeTo("main").read.count() == 20L)
    assert(g.readBranch("dev").count() == 30L)
    // meta refs expose the branch ref
    assert(SnapshotLog(g.tableDir.toString).refs("branch:dev") == 1L)
    // time travel on main never resolves branch snapshots
    assert(MorReader.readAt(spark, g.tableDir.toString, 1L).count() == 20L)
    // VERSION AS OF a branch name resolves to its HEAD lineage, not the fork
    assert(MorReader.readRef(spark, g.tableDir.toString, "dev").count() == 30L)
    assert(MorReader.readRef(spark, g.tableDir.toString, "branch:dev").count() == 30L)
  }

  test("rewrite-style verbs follow the ACTIVE branch lineage: mergeInto " +
      "updates branch-only rows on a branch; updateSemiJoin rewrites " +
      "branch rows; main stays untouched throughout") {
    import org.apache.spark.sql.types._
    val g = new GraftTableGenerator(spark, freshWh("rw"), "t")
    g.create(graft.schema.GraftSchema.of(
        "id" -> LongType, "v" -> LongType), Nil)
      .appendData(spark.range(0, 10).toDF("id").withColumn("v", col("id")))
      .commit()
    g.createBranch("dev")
    g.writeTo("dev")
      .appendData(spark.range(10, 20).toDF("id").withColumn("v", col("id")))
      .commit()
    // mergeInto on the branch: source covers 5..14 — ids 10..14 exist ONLY
    // on the branch and MUST be seen as matched (a main-only read would
    // wrongly classify them NOT MATCHED and insert duplicates)
    g.mergeInto(
      spark.range(5, 15).toDF("id").withColumn("v", col("id") + 1000),
      Seq("id"))
      .commit()
    val brAfterMerge = g.read.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(brAfterMerge.size == 20, s"no duplicate ids: ${brAfterMerge.size}")
    (0L until 20L).foreach { i =>
      val exp = if (i >= 5 && i < 15) i + 1000 else i
      assert(brAfterMerge(i) == exp, s"id=$i got=${brAfterMerge(i)} want=$exp")
    }
    // updateSemiJoin on the branch: witnesses for 12..17 (branch-only and
    // shared rows) — the rewrite read must come from the BRANCH lineage
    g.updateSemiJoin(
      spark.range(12, 18).toDF("id").withColumn("w", lit(1L)),
      Seq("id"), joinResidual = None,
      sets = Seq("v" -> (col("v") + 100000)))
      .commit()
    val brAfterUsj = g.read.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(brAfterUsj.size == 20)
    (0L until 20L).foreach { i =>
      val base = if (i >= 5 && i < 15) i + 1000 else i
      val exp = if (i >= 12 && i < 18) base + 100000 else base
      assert(brAfterUsj(i) == exp, s"id=$i got=${brAfterUsj(i)} want=$exp")
    }
    // main never saw any of it
    val mainRows = g.writeTo("main").read.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mainRows == (0L until 10L).map(i => i -> i).toMap,
      s"main mutated: $mainRows")
  }

  test("branch deletes apply only to the branch lineage") {
    val g = new GraftTableGenerator(spark, freshWh("del"), "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 30).commit()
    g.createBranch("dev")
    g.writeTo("dev")
      .positionalDelete(Seq("widget"), col("product_id") < 10).commit()
    assert(g.readBranch("dev").count() == 20L)
    assert(g.writeTo("main").read.count() == 30L)
  }

  test("fast-forward publishes the branch; history and refs line up") {
    val g = new GraftTableGenerator(spark, freshWh("ff"), "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 20).commit()
    g.createBranch("dev")
    g.writeTo("dev")
      .append(Seq("gizmo"), graft.gen.Bundles.products(), 1, 10).commit()
      .equalityDelete(Seq("widget"), col("product_id") % 2 === 0,
        Seq("product_id")).commit()
    g.fastForward("dev")
    // main now carries the branch's append and delete
    assert(g.read.count() == 20L) // 20 - 10 evens + 10 gizmo
    assert(g.read.where(col("category") === "gizmo").count() == 10L)
    // the ref moved to the published head
    assert(SnapshotLog(g.tableDir.toString).refs("branch:dev") == 3L)
    // a post-FF main commit continues the id line
    g.append(Seq("widget"), graft.gen.Bundles.products(), 1, 5).commit()
    assert(g.read.count() == 25L)
  }

  test("fast-forward refuses a diverged main") {
    val g = new GraftTableGenerator(spark, freshWh("div"), "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 10).commit()
    g.createBranch("dev")
    g.writeTo("dev")
      .append(Seq("gizmo"), graft.gen.Bundles.products(), 1, 5).commit()
    // main advances past the fork
    g.writeTo("main")
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 5).commit()
    val e = intercept[IllegalArgumentException](g.fastForward("dev"))
    assert(e.getMessage.contains("fast-forward"))
    // both lineages still read consistently after the refusal
    assert(g.read.count() == 15L)
    assert(g.readBranch("dev").count() == 15L) // fork 10 + branch 5
  }

  test("snapshot expiry clamps to the earliest live fork; orphan GC spares branch files") {
    val g = new GraftTableGenerator(spark, freshWh("gc"), "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 10).commit()
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 10).commit()
    g.createBranch("dev") // fork = snap 2
    g.writeTo("dev")
      .append(Seq("gizmo"), graft.gen.Bundles.products(), 1, 5).commit()
    g.writeTo("main")
    // wanted horizon (keep last 1 of 2 mains) = 1; fork 2 does not clamp it
    g.expireSnapshots(1)
    assert(g.read.count() == 20L)
    assert(g.readBranch("dev").count() == 25L)
    assert(MorReader.readAt(spark, g.tableDir.toString, 2L).count() == 20L)
    // main advances; now the wanted horizon passes the fork and must CLAMP
    g.append(Seq("widget"), graft.gen.Bundles.products(), 1, 5).commit()
    g.expireSnapshots(1)
    // the fork-point state survives as the rebased baseline at the fork id
    assert(g.readBranch("dev").count() == 25L)
    assert(g.read.count() == 25L)
    assert(MorReader.readAt(spark, g.tableDir.toString, 2L).count() == 20L)
    // orphan GC counts branch files as referenced
    val deleted = g.removeOrphanFiles(graceMs = 0L)
    assert(deleted.isEmpty)
    assert(g.readBranch("dev").count() == 25L)
    // dropping the branch lifts the clamp (main diverged past the fork,
    // so fast-forward is correctly impossible here)
    intercept[IllegalArgumentException](g.fastForward("dev"))
    g.dropBranch("dev")
    g.expireSnapshots(1)
    assert(g.read.count() == 25L)
    intercept[IllegalArgumentException](g.readBranch("dev"))
  }

  test("dropBranch removes the ref; branch snapshots leave every read path") {
    val g = new GraftTableGenerator(spark, freshWh("drop"), "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 10).commit()
    g.createBranch("dev")
    g.writeTo("dev")
      .append(Seq("gizmo"), graft.gen.Bundles.products(), 1, 5).commit()
    g.writeTo("main").dropBranch("dev")
    assert(!SnapshotLog(g.tableDir.toString).refs.contains("branch:dev"))
    intercept[IllegalArgumentException](g.readBranch("dev"))
    assert(g.read.count() == 10L)
  }

  test("compaction on a branch rewrites only the branch lineage; main files untouched") {
    val g = new GraftTableGenerator(spark, freshWh("compact"), "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 20).commit()
    val mainFiles = SnapshotLog(g.tableDir.toString).load()
      .dataFiles.map(_.path).toSet
    g.createBranch("dev")
    g.writeTo("dev")
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 10).commit()
      .positionalDelete(Seq("widget"), col("product_id") < 5).commit()
    g.compact().commit() // active lineage = the branch
    // branch state survives the rewrite; main's view still lists its
    // original physical files and its original rows
    assert(g.read.count() == 25L)
    assert(g.writeTo("main").read.count() == 20L)
    val mainNow = SnapshotLog(g.tableDir.toString).load().mainOnly
      .dataFiles.map(_.path).toSet
    assert(mainNow == mainFiles, "main's live file set changed under a branch compaction")
    // publish and re-check end state
    g.fastForward("dev")
    assert(g.read.count() == 25L)
  }

  test("main and branch writers race: conflicts refresh and re-stage, both lineages correct") {
    import spark.implicits._
    val wh = freshWh("race")
    val g = new GraftTableGenerator(spark, wh, "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 20).commit()
    g.createBranch("dev")
    // a second writer attaches and routes to the branch
    val b = new GraftTableGenerator(spark, wh, "t").open().writeTo("dev")
    def row(id: Int): org.apache.spark.sql.DataFrame =
      Seq((id, s"p$id", "gizmo", "blue",
        java.sql.Date.valueOf("2022-01-01"), 1.0, 1))
        .toDF("product_id", "name", "category", "color",
          "created_date", "weight", "quantity")
    // branch writer takes the next global snapshot id out from under the
    // stale main writer: the main commit must conflict, refresh, re-stage
    b.appendData(row(1000)).commit()
    var attempts = 0
    g.commitWithRetry() { w => attempts += 1; w.appendData(row(2000)) }
    assert(attempts >= 2, s"expected a conflict-driven retry, got $attempts")
    // lineages: main sees its append, never the branch's; branch sees both
    // its own and the fork prefix
    val main = g.read.select("product_id").collect().map(_.getInt(0)).toSet
    assert(main.contains(2000) && !main.contains(1000) && main.size == 21)
    val dev = g.readBranch("dev").select("product_id").collect()
      .map(_.getInt(0)).toSet
    assert(dev.contains(1000) && !dev.contains(2000) && dev.size == 21)
  }

  test("branch snapshot JSON round-trips; main snapshots omit the branch field") {
    val g = new GraftTableGenerator(spark, freshWh("json"), "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 1, 5).commit()
    g.createBranch("dev")
    g.writeTo("dev")
      .append(Seq("gizmo"), graft.gen.Bundles.products(), 1, 5).commit()
    val meta = Paths.get(g.tableDir.toString, "metadata")
    val s1 = Files.readString(meta.resolve("snap-1.json"))
    val s2 = Files.readString(meta.resolve("snap-2.json"))
    assert(!s1.contains("\"branch\""), "main snapshot must omit the field")
    assert(s2.contains("\"branch\":\"dev\""))
    val st = SnapshotLog(g.tableDir.toString).load()
    assert(st.snapshots.map(_.branch) == Seq("main", "dev"))
  }
}
