package graft

import org.apache.spark.sql.functions._

import graft.meta.SnapshotLog
import graft.read.MorReader
import graft.table.GraftTableGenerator

/** The DSv2 catalog surface: graft tables as first-class SQL citizens —
  * SELECT / INSERT / DELETE / UPDATE / MERGE by name, time travel, CREATE
  * TABLE, with manifest-level file pruning wired through SQL filters. */
class CatalogSpec extends SparkSpec {

  // the JVM-wide catalog warehouse — the conf is session-global, so every
  // catalog consumer shares ONE directory (no conf races across suites)
  private lazy val wh: String = {
    graft.queries.CatalogFixture.ensure(spark)
    graft.queries.CatalogFixture.warehouse
  }

  /** products table `graft.db.t`: ids 0..99 widget + 100..199 gizmo. */
  private def fresh(name: String): GraftTableGenerator = {
    val g = new GraftTableGenerator(spark, s"$wh/db", name)
    g.create(graft.scenarios.Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 2, 50).commit()
      .append(Seq("gizmo"), graft.gen.Bundles.products(), 2, 50).commit()
    g
  }

  test("SELECT by name equals the MoR read; deletes apply") {
    val g = fresh("t_scan")
    g.positionalDelete(Seq("widget"), col("product_id") < 10).commit()
    val sql = spark.sql("SELECT product_id FROM graft.db.t_scan")
      .collect().map(_.getInt(0)).toSet
    val api = MorReader.read(spark, g.tableDir.toString)
      .select("product_id").collect().map(_.getInt(0)).toSet
    assert(sql == api && sql == (10 until 200).toSet)
  }

  test("SQL partition filter reaches the manifest planner (file pruning)") {
    fresh("t_prune")
    // SUM is not metadata-answerable, so this takes the scan — and the
    // partition filter must reach the manifest planner
    val before = MorReader.dataFilesPlanned.get()
    val s = spark.sql(
      "SELECT sum(product_id) AS s FROM graft.db.t_prune WHERE category = 'widget'")
      .collect()(0).getLong(0)
    val planned = MorReader.dataFilesPlanned.get() - before
    assert(s == (0 until 100).sum.toLong)
    assert(planned == 2,
      s"partition filter must plan only widget's 2 files, planned $planned")
    // COUNT(*) with the same partition-exact WHERE short-circuits the scan
    // entirely — zero files planned, the manifest already knows
    val before2 = MorReader.dataFilesPlanned.get()
    val n = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_prune WHERE category = 'widget'")
      .collect()(0).getLong(0)
    assert(n == 100L)
    assert(MorReader.dataFilesPlanned.get() - before2 == 0L,
      "partition-exact COUNT must not plan any file")
  }

  test("SQL range filter prunes via per-file metrics") {
    fresh("t_range")
    val before = MorReader.dataFilesPlanned.get()
    val n = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_range " +
        "WHERE product_id >= 150 AND product_id <= 199")
      .collect()(0).getLong(0)
    val planned = MorReader.dataFilesPlanned.get() - before
    assert(n == 50L)
    assert(planned == 1,
      s"range must open only the file holding 150..199, planned $planned")
    // BETWEEN survives analysis as a RuntimeReplaceable (With-wrapped)
    // node — extraction must desugar it, or the slice silently full-scans
    val before2 = MorReader.dataFilesPlanned.get()
    val n2 = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_range " +
        "WHERE product_id BETWEEN 150 AND 199").collect()(0).getLong(0)
    assert(n2 == 50L)
    assert(MorReader.dataFilesPlanned.get() - before2 == 1,
      "BETWEEN must prune exactly like the desugared conjunction")
  }

  test("LIKE prefix and null-safe equality prune via string envelopes") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_like")
    g.create(graft.schema.GraftSchema.of(
        "id" -> org.apache.spark.sql.types.LongType,
        "name" -> org.apache.spark.sql.types.StringType), Nil)
      .appendData(spark.range(0, 50).toDF("id")
        .withColumn("name", concat(lit("a"), col("id")))).commit()
      .appendData(spark.range(50, 100).toDF("id")
        .withColumn("name", concat(lit("x"), col("id")))).commit()
    val total = SnapshotLog(g.tableDir.toString).load().mainOnly.dataFiles.size
    assert(total >= 2)
    val b1 = MorReader.dataFilesPlanned.get()
    val n1 = spark.sql(
      "SELECT count(id) AS n FROM graft.db.t_like WHERE name LIKE 'x%'")
      .collect()(0).getLong(0)
    assert(n1 == 50L)
    assert(MorReader.dataFilesPlanned.get() - b1 < total,
      "prefix predicate must prune the non-matching envelope")
    val b2 = MorReader.dataFilesPlanned.get()
    val n2 = spark.sql(
      "SELECT count(id) AS n FROM graft.db.t_like WHERE name <=> 'x50'")
      .collect()(0).getLong(0)
    assert(n2 == 1L)
    assert(MorReader.dataFilesPlanned.get() - b2 < total,
      "null-safe point lookup must prune like equality")
  }

  test("OR of point predicates prunes via the union of per-file probes") {
    fresh("t_or")
    // product_id = 10 OR product_id = 160: point union {10, 160} — only
    // the two files whose envelopes hold one of the probes open
    val before = MorReader.dataFilesPlanned.get()
    val n = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_or " +
        "WHERE product_id = 10 OR product_id = 160").collect()(0).getLong(0)
    assert(n == 2L)
    val planned = MorReader.dataFilesPlanned.get() - before
    assert(planned == 2,
      s"OR of two point lookups must open exactly their 2 files, planned $planned")
    // Q19 shape: disjunction of conjunctions — the shared column's hull
    // prunes even though each branch also constrains a different column
    val b2 = MorReader.dataFilesPlanned.get()
    val n2 = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_or " +
        "WHERE (product_id BETWEEN 0 AND 9 AND category = 'widget') " +
        "   OR (product_id BETWEEN 30 AND 39 AND category = 'widget')")
      .collect()(0).getLong(0)
    assert(n2 == 20L)
    assert(MorReader.dataFilesPlanned.get() - b2 == 1,
      "hull [0,39] x partition {widget} must open one file")
  }

  test("IS NULL / IS NOT NULL prune via manifest nullCount and envelopes") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_null")
    g.create(graft.schema.GraftSchema.of(
        "id" -> org.apache.spark.sql.types.LongType,
        "v" -> org.apache.spark.sql.types.LongType), Nil)
      // file 1: v ALL NULL (the post-schema-evolution shape); file 2: no nulls
      .appendData(spark.range(0, 50).toDF("id")
        .withColumn("v", lit(null).cast("long"))).commit()
      .appendData(spark.range(50, 100).toDF("id")
        .withColumn("v", col("id") * 2)).commit()
    val total = SnapshotLog(g.tableDir.toString).load().mainOnly.dataFiles.size
    assert(total >= 2)
    val b1 = MorReader.dataFilesPlanned.get()
    val n1 = spark.sql(
      "SELECT count(id) AS n FROM graft.db.t_null WHERE v IS NOT NULL")
      .collect()(0).getLong(0)
    assert(n1 == 50L)
    val p1 = MorReader.dataFilesPlanned.get() - b1
    assert(p1 < total, s"IS NOT NULL must drop the all-null file: $p1/$total")
    val b2 = MorReader.dataFilesPlanned.get()
    val n2 = spark.sql(
      "SELECT count(id) AS n FROM graft.db.t_null WHERE v IS NULL")
      .collect()(0).getLong(0)
    assert(n2 == 50L)
    val p2 = MorReader.dataFilesPlanned.get() - b2
    assert(p2 < total, s"IS NULL must drop the zero-null file: $p2/$total")
  }

  test("INSERT INTO appends through the distributed bulk writer") {
    val g = fresh("t_ins")
    spark.sql(
      "INSERT INTO graft.db.t_ins VALUES " +
        "(500, 'n1', 'widget', 'red', DATE'2024-01-01', 1.5, 3), " +
        "(501, 'n2', 'gadget', 'blue', DATE'2024-01-02', 2.5, 4)")
    val rows = spark.sql(
      "SELECT product_id, category FROM graft.db.t_ins WHERE product_id >= 500")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows == Set((500, "widget"), (501, "gadget")))
    assert(MorReader.read(spark, g.tableDir.toString).count() == 202)
    // the new gadget partition exists as a registered file
    val parts = SnapshotLog(g.tableDir.toString).load().mainOnly.dataFiles
      .flatMap(_.partition.get("category")).toSet
    assert(parts == Set("widget", "gizmo", "gadget"))
  }

  test("DELETE FROM with a range condition takes the metadata tier") {
    val g = fresh("t_del")
    spark.sql("DELETE FROM graft.db.t_del " +
      "WHERE product_id >= 0 AND product_id <= 49")
    val st = SnapshotLog(g.tableDir.toString).load().mainOnly
    assert(st.snapshots.last.removedDataFiles.nonEmpty,
      "fully-covered file must drop as pure metadata")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_del")
      .collect()(0).getLong(0) == 150L)
  }

  test("DELETE … BETWEEN deletes what >= AND <= deletes, by the same " +
      "metadata-tier range route") {
    val shapes = Seq("t_betw" -> "product_id BETWEEN 0 AND 74",
      "t_betw_cmp" -> "product_id >= 0 AND product_id <= 74")
    val outcomes = shapes.map { case (name, where) =>
      val g = fresh(name)
      spark.sql(s"DELETE FROM graft.db.$name WHERE $where")
      val last = SnapshotLog(g.tableDir.toString).load().mainOnly.snapshots.last
      // [0, 49] drops as pure metadata; [50, 99] only overlaps → tombstones
      (last.removedDataFiles.size, last.deleteFiles.size,
        spark.sql(s"SELECT CAST(product_id AS BIGINT) FROM graft.db.$name")
          .collect().map(_.getLong(0)).sorted.toSeq)
    }
    assert(outcomes(0) == outcomes(1))
    assert(outcomes(0)._1 == 1 && outcomes(0)._2 == 1, outcomes(0).toString)
    assert(outcomes(0)._3 == (75L until 200L))
  }

  test("MERGE with a partial SET / INSERT column list keeps the unassigned " +
      "target columns (partitioned and unpartitioned)") {
    import org.apache.spark.sql.types._
    Seq("t_mpart_flat" -> Nil, "t_mpart_part" -> Seq("c")).foreach { case (name, parts) =>
      val g = new GraftTableGenerator(spark, s"$wh/db", name)
      g.create(graft.schema.GraftSchema.of(
        "k" -> LongType, "c" -> LongType, "p" -> LongType), parts)
      import spark.implicits._
      g.appendData(Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("k", "c", "p")).commit()
      Seq((1L, 99L, 555L), (3L, 33L, 333L)).toDF("k", "c", "p")
        .createOrReplaceTempView("mpart_src")
      spark.sql(
        s"""MERGE INTO graft.db.$name t USING mpart_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET p = s.p
           |WHEN NOT MATCHED THEN INSERT (k, c) VALUES (s.k, s.c)
           |""".stripMargin)
      val got = spark.sql(s"SELECT k, c, p FROM graft.db.$name").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
      assert(got == Set((1L, 10L, Some(555L)), (2L, 20L, Some(200L)),
        (3L, 33L, None)), s"$name: $got")
    }
  }

  test("DELETE FROM with an arbitrary condition writes positional deletes") {
    val g = fresh("t_del2")
    spark.sql("DELETE FROM graft.db.t_del2 WHERE product_id % 10 = 3")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_del2")
      .collect()(0).getLong(0) == 180L)
    assert(SnapshotLog(g.tableDir.toString).load().mainOnly
      .deleteFiles.nonEmpty)
  }

  test("UPDATE rewrites matching rows in one delete+append transaction") {
    val g = fresh("t_upd")
    val preSnaps = SnapshotLog(g.tableDir.toString).lastSnapshotId
    spark.sql("UPDATE graft.db.t_upd SET quantity = 0, color = 'void' " +
      "WHERE product_id < 20")
    assert(SnapshotLog(g.tableDir.toString).lastSnapshotId == preSnaps + 1,
      "UPDATE must commit exactly one snapshot")
    val out = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_upd WHERE color = 'void'")
      .collect()(0).getLong(0)
    assert(out == 20L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_upd")
      .collect()(0).getLong(0) == 200L, "row count unchanged by UPDATE")
    assert(spark.sql("SELECT sum(quantity) AS s FROM graft.db.t_upd " +
      "WHERE product_id < 20").collect()(0).getLong(0) == 0L)
  }

  test("MERGE INTO routes to the engine's mergeInto (upsert + delete + insert)") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_merge")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 400).toDF("id")
      .withColumn("val", col("id") * 2)).commit()
    spark.range(300, 500).toDF("id")
      .withColumn("val", col("id") * 3)
      .withColumn("op", when(col("id") % 10 === 0, lit("D")).otherwise(lit("U")))
      .createOrReplaceTempView("merge_src")
    spark.sql(
      """MERGE INTO graft.db.t_merge t USING merge_src s ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED AND s.id % 7 <> 0 THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *
        |""".stripMargin)
    // same end state as the API twin (mor_merge's arithmetic):
    // 0..299 val 2id; 300..399 minus %10==0, val 3id unless %7==0 (2id);
    // 400..499 minus %10==0, val 3id
    val got = spark.sql("SELECT id, val FROM graft.db.t_merge")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ((0L until 300L).map(i => i -> i * 2) ++
      (300L until 400L).filter(_ % 10 != 0)
        .map(i => i -> (if (i % 7 == 0) i * 2 else i * 3)) ++
      (400L until 500L).filter(_ % 10 != 0).map(i => i -> (i * 3))).toMap
    assert(got == want)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE reconciles unmatched target rows " +
      "in the same single snapshot") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_nmbs")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 200).toDF("id")
      .withColumn("val", col("id") * 2)).commit()
    val preSnaps = SnapshotLog(g.tableDir.toString).lastSnapshotId
    spark.range(100, 300).toDF("id").withColumn("val", col("id") * 3)
      .createOrReplaceTempView("nmbs_src")
    spark.sql(
      """MERGE INTO graft.db.t_nmbs t USING nmbs_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.id % 5 = 0 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.id % 3 = 0
        |  THEN UPDATE SET val = t.val + 1000
        |""".stripMargin)
    assert(SnapshotLog(g.tableDir.toString).lastSnapshotId == preSnaps + 1,
      "all MERGE legs (matched, insert, NMBS) must publish ONE snapshot")
    val got = spark.sql("SELECT id, val FROM graft.db.t_nmbs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0..99 unmatched by source: %5==0 deleted (clause order — %15==0
    // satisfies BOTH NMBS conditions and the DELETE listed first wins),
    // else %3==0 updated to 2id+1000, else untouched; 100..299 from source
    val want = ((0L until 100L).filter(_ % 5 != 0)
        .map(i => i -> (if (i % 3 == 0) i * 2 + 1000 else i * 2)) ++
      (100L until 300L).map(i => i -> i * 3)).toMap
    assert(got == want)
    // NMBS conditions referencing SOURCE columns are rejected loudly
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.db.t_nmbs t USING nmbs_src s ON t.id = s.id
          |WHEN NOT MATCHED BY SOURCE AND s.val > 0 THEN DELETE
          |""".stripMargin)
    }
    assert(e.getMessage != null)
  }

  test("DELETE WHERE [NOT] EXISTS with a non-equality correlated conjunct " +
      "routes to the residual-aware semi/anti join") {
    import org.apache.spark.sql.types._
    def mk(name: String): GraftTableGenerator = {
      val g = new GraftTableGenerator(spark, s"$wh/db", name)
      g.create(graft.schema.GraftSchema.of(
        "id" -> LongType, "ts" -> LongType, "val" -> LongType), Nil)
      // ids 0..19, ts = 10·id
      g.appendData(spark.range(0, 20).toDF("id")
        .withColumn("ts", col("id") * 10)
        .withColumn("val", col("id"))).commit()
      g
    }
    // source covers ids 0..9; in the ±5 band iff id even
    spark.range(0, 10).toDF("id")
      .withColumn("sts", col("id") * 10 +
        when(col("id") % 2 === 0, lit(3L)).otherwise(lit(50L)))
      .createOrReplaceTempView("exres_src")
    mk("t_exres")
    spark.sql(
      """DELETE FROM graft.db.t_exres WHERE EXISTS (
        |  SELECT 1 FROM exres_src s
        |  WHERE s.id = t_exres.id
        |    AND s.sts BETWEEN t_exres.ts - 5 AND t_exres.ts + 5)
        |""".stripMargin)
    val got = spark.sql("SELECT id FROM graft.db.t_exres")
      .collect().map(_.getLong(0)).sorted.toSeq
    // even 0..8 in-band → deleted; odd 0..9 out-of-band and 10..19 survive
    assert(got == ((1L until 10L by 2) ++ (10L until 20L)).sorted,
      s"got $got")
    // NOT EXISTS twin: delete rows NO source row fully-matches
    mk("t_exres2")
    spark.sql(
      """DELETE FROM graft.db.t_exres2 WHERE NOT EXISTS (
        |  SELECT 1 FROM exres_src s
        |  WHERE s.id = t_exres2.id
        |    AND s.sts BETWEEN t_exres2.ts - 5 AND t_exres2.ts + 5)
        |""".stripMargin)
    val got2 = spark.sql("SELECT id FROM graft.db.t_exres2")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == (0L until 10L by 2).toSeq, s"got2 $got2")
    // composite: correlated residual INSIDE + target-only residual OUTSIDE
    mk("t_exres3")
    spark.sql(
      """DELETE FROM graft.db.t_exres3 WHERE EXISTS (
        |  SELECT 1 FROM exres_src s
        |  WHERE s.id = t_exres3.id AND s.sts > t_exres3.ts)
        |  AND t_exres3.id >= 4
        |""".stripMargin)
    val got3 = spark.sql("SELECT id FROM graft.db.t_exres3")
      .collect().map(_.getLong(0)).sorted.toSeq
    // s.sts > ts holds for ALL covered ids (both +3 and +50); outside
    // residual keeps ids < 4 → deleted 4..9, survivors 0..3 and 10..19
    assert(got3 == ((0L until 4L) ++ (10L until 20L)).sorted, s"got3 $got3")
    // scale gate: the SEMI scan is pruned to the source's key envelope —
    // a second data file far outside [0, 9] must never be opened
    val g4 = mk("t_exres4")
    g4.appendData(spark.range(1000000, 1000100).toDF("id")
      .withColumn("ts", col("id") * 10)
      .withColumn("val", col("id"))).commit()
    val before = GraftTableGenerator.deleteScanFilesPlanned.get()
    spark.sql(
      """DELETE FROM graft.db.t_exres4 WHERE EXISTS (
        |  SELECT 1 FROM exres_src s
        |  WHERE s.id = t_exres4.id AND s.sts > t_exres4.ts)
        |""".stripMargin)
    assert(GraftTableGenerator.deleteScanFilesPlanned.get() - before == 1L,
      "semi deleteSemiJoin must open only files inside the source key envelope")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_exres4")
      .collect()(0).getLong(0) == 110L) // 20 - 10 deleted + 100 untouched
    spark.sql("DROP TABLE graft.db.t_exres4")
    Seq("t_exres", "t_exres2", "t_exres3").foreach(t =>
      spark.sql(s"DROP TABLE graft.db.$t"))
  }

  test("DML guards: non-deterministic WHERE refuses loudly; correlated IN " +
      "says rewrite as EXISTS; a tagged branch refuses REPLACE/DROP reclaim") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.t_guard (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.t_guard SELECT id, id FROM range(0, 10)")
    // the condition evaluates in more than one job (matching scan +
    // tombstone / rewrite + tombstone) — sampling must refuse, not
    // silently lose or duplicate rows
    val e1 = intercept[Exception] {
      spark.sql("DELETE FROM graft.db.t_guard WHERE rand() < 0.5") }
    assert(e1.getMessage.toLowerCase.contains("deterministic"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("UPDATE graft.db.t_guard SET v = 0 WHERE id IN " +
        "(SELECT id FROM range(5)) AND rand() < 0.5") }
    assert(e2.getMessage.toLowerCase.contains("deterministic"), e2.getMessage)
    // correlated IN subqueries never reach the join routes (they would
    // execute the fragment with dangling outer references) — loud, with
    // the EXISTS rewrite hint
    spark.range(0, 5).selectExpr("id AS k", "id AS w")
      .createOrReplaceTempView("guard_src")
    val e3 = intercept[Exception] {
      spark.sql("DELETE FROM graft.db.t_guard WHERE id NOT IN " +
        "(SELECT k FROM guard_src s WHERE s.w = t_guard.v)") }
    assert(e3.getMessage.contains("EXISTS"), e3.getMessage)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_guard")
      .collect()(0).getLong(0) == 10L, "guard failures must not mutate")
    // a tag holding one of a branch's own snapshots blocks the
    // REPLACE/DROP reclaim — deleting the files would dangle the tag
    spark.sql("ALTER TABLE graft.db.t_guard CREATE BRANCH gb")
    spark.conf.set("spark.graft.wap.branch.db.t_guard", "gb")
    try spark.sql(
      "INSERT INTO graft.db.t_guard SELECT id, id FROM range(50, 55)")
    finally spark.conf.unset("spark.graft.wap.branch.db.t_guard")
    val log = SnapshotLog(s"$wh/db/t_guard")
    val bsnap = log.load().snapshots.filter(_.branch == "gb").last.id
    spark.sql(
      s"ALTER TABLE graft.db.t_guard CREATE TAG hold AS OF VERSION $bsnap")
    val e4 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.t_guard REPLACE BRANCH gb") }
    assert(e4.getMessage.contains("referenced"), e4.getMessage)
    val e5 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.t_guard DROP BRANCH gb") }
    assert(e5.getMessage.contains("referenced"), e5.getMessage)
    val bfiles = log.load().snapshots.filter(_.branch == "gb")
      .flatMap(_.dataFiles).map(_.path)
    assert(bfiles.nonEmpty && bfiles.forall(p =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(p))),
      "refused reclaim must leave the branch files on disk")
    // dropping the tag unblocks the reclaim
    spark.sql("ALTER TABLE graft.db.t_guard DROP TAG hold")
    spark.sql("ALTER TABLE graft.db.t_guard DROP BRANCH gb")
    assert(bfiles.forall(p =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    spark.sql("DROP TABLE graft.db.t_guard")
  }

  test("scalar-subquery WHERE comparisons fold as execute-once literals; " +
      "empty subquery deletes nothing; correlated and multi-row refuse") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.t_scw (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.t_scw SELECT id, id FROM range(0, 20)")
    spark.range(0, 10).toDF("x").createOrReplaceTempView("scw_src")
    def n(): Long = spark.sql("SELECT COUNT(*) FROM graft.db.t_scw")
      .collect()(0).getLong(0)
    spark.sql(
      "DELETE FROM graft.db.t_scw WHERE v > (SELECT MAX(x) FROM scw_src)")
    assert(n() == 10L) // MAX = 9: ids 10..19 deleted
    spark.sql("DELETE FROM graft.db.t_scw WHERE v < " +
      "(SELECT MIN(x) FROM scw_src WHERE x < 0)")
    assert(n() == 10L, "empty subquery → NULL comparison must delete nothing")
    spark.sql("UPDATE graft.db.t_scw SET v = v * 10 WHERE id >= " +
      "(SELECT AVG(x) FROM scw_src)") // AVG = 4.5: ids 5..9
    assert(spark.sql("SELECT SUM(v) FROM graft.db.t_scw")
      .collect()(0).getLong(0) == (0L to 4L).sum + (5L to 9L).map(_ * 10).sum)
    val e1 = intercept[Exception] { spark.sql(
      "DELETE FROM graft.db.t_scw WHERE v > " +
        "(SELECT x FROM scw_src WHERE x = t_scw.id)") }
    assert(e1.getMessage.contains("EXISTS"), e1.getMessage)
    val e2 = intercept[Exception] { spark.sql(
      "DELETE FROM graft.db.t_scw WHERE v > (SELECT x FROM scw_src)") }
    assert(e2.getMessage.contains("more than one row"), e2.getMessage)
    assert(n() == 10L, "refusals must not mutate")
    spark.sql("DROP TABLE graft.db.t_scw")
  }

  test("correlated scalar-aggregate WHERE comparisons ride the semi-join " +
      "routes; uncovered keys survive; COUNT / <=> / OR shapes refuse") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.t_csw (id BIGINT, grp BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.t_csw " +
      "SELECT id, id % 4, id FROM range(0, 40)")
    // aux covers grps 0 and 1 only: MAX = 10g + 20
    spark.range(0, 2).selectExpr("id AS g", "id * 10 AS x")
      .union(spark.range(0, 2).selectExpr("id AS g", "id * 10 + 20 AS x"))
      .createOrReplaceTempView("csw_aux")
    spark.sql("DELETE FROM graft.db.t_csw WHERE v > " +
      "(SELECT MAX(x) FROM csw_aux a WHERE a.g = t_csw.grp)")
    // grp0: keep v ≤ 20 (ids 0,4,8,12,16,20); grp1: v ≤ 30 (1,5,…,29);
    // grps 2,3 uncovered: NULL comparison — all 10 rows each survive
    val ids = spark.sql("SELECT id FROM graft.db.t_csw")
      .collect().map(_.getLong(0)).toSet
    val want = (0L until 40L).filter { i =>
      val g = i % 4
      if (g >= 2) true else i <= g * 10 + 20
    }.toSet
    assert(ids == want, s"got ${ids.toSeq.sorted}")
    spark.sql("UPDATE graft.db.t_csw SET v = v + 100 WHERE v >= " +
      "(SELECT AVG(x) FROM csw_aux a WHERE a.g = t_csw.grp)")
    // AVG = 10g+10: grp0 ids ≥ 10 bump, grp1 ids ≥ 20 bump, others not
    val got = spark.sql("SELECT id, v FROM graft.db.t_csw")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    want.foreach { i =>
      val g = i % 4
      val exp = if (g < 2 && i >= g * 10 + 10) i + 100 else i
      assert(got(i) == exp, s"id=$i got=${got(i)} want=$exp")
    }
    // refusal shapes: COUNT (0 on uncovered keys — a semi join can't see
    // them), null-safe equality, OR around the comparison
    val e1 = intercept[Exception] { spark.sql(
      "DELETE FROM graft.db.t_csw WHERE v < " +
        "(SELECT COUNT(*) FROM csw_aux a WHERE a.g = t_csw.grp)") }
    assert(e1.getMessage.contains("EXISTS"), e1.getMessage)
    val e2 = intercept[Exception] { spark.sql(
      "DELETE FROM graft.db.t_csw WHERE v <=> " +
        "(SELECT MAX(x) FROM csw_aux a WHERE a.g = t_csw.grp)") }
    assert(e2.getMessage.contains("EXISTS"), e2.getMessage)
    val e3 = intercept[Exception] { spark.sql(
      "DELETE FROM graft.db.t_csw WHERE v > " +
        "(SELECT MAX(x) FROM csw_aux a WHERE a.g = t_csw.grp) OR v < 0") }
    assert(e3.getMessage.contains("EXISTS"), e3.getMessage)
    assert(spark.sql("SELECT COUNT(*) FROM graft.db.t_csw")
      .collect()(0).getLong(0) == want.size.toLong, "refusals must not mutate")
    spark.sql("DROP TABLE graft.db.t_csw")
  }

  test("MERGE correlated scalar-aggregate assignments decorrelate into " +
      "the source; non-aggregate / non-ON-key / WHEN-condition subqueries " +
      "refuse loudly") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.t_mca (id BIGINT, grp BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.t_mca " +
      "SELECT id, id % 5, id * 10 FROM range(0, 20)")
    spark.range(10, 30).selectExpr("id", "id % 5 AS grp")
      .createOrReplaceTempView("mca_src")
    // aux covers even keys only, two rows each: SUM = k + 1
    spark.range(0, 30).filter("id % 2 = 0")
      .selectExpr("id AS k", "id AS x")
      .union(spark.range(0, 30).filter("id % 2 = 0")
        .selectExpr("id AS k", "CAST(1 AS BIGINT) AS x"))
      .createOrReplaceTempView("mca_aux")
    spark.sql(
      """MERGE INTO graft.db.t_mca t USING mca_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET
        |  v = (SELECT SUM(x) FROM mca_aux a WHERE a.k = t.id)
        |WHEN NOT MATCHED THEN INSERT (id, grp, v)
        |  VALUES (s.id, s.grp, (SELECT COUNT(*) FROM mca_aux a
        |                        WHERE a.k = s.id))
        |""".stripMargin)
    val got = spark.sql("SELECT id, v FROM graft.db.t_mca ORDER BY id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    val want = (0L until 30L).map { id =>
      (id, if (id < 10) Some(id * 10)                       // untouched
      else if (id < 20) { if (id % 2 == 0) Some(id + 1) else None } // SUM
      else Some(if (id % 2 == 0) 2L else 0L))               // COUNT
    }
    assert(got == want, got.take(30).mkString(", "))
    // refusal shapes, none of which may mutate the table
    val e1 = intercept[Exception] { spark.sql(
      """MERGE INTO graft.db.t_mca t USING mca_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET
        |  v = (SELECT x FROM mca_aux a WHERE a.k = t.id LIMIT 1)
        |""".stripMargin) }
    assert(e1.getMessage.contains("MERGE source"), e1.getMessage)
    val e2 = intercept[Exception] { spark.sql(
      """MERGE INTO graft.db.t_mca t USING mca_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET
        |  v = (SELECT SUM(x) FROM mca_aux a WHERE a.k = t.grp)
        |""".stripMargin) }
    assert(e2.getMessage.contains("MERGE source"), e2.getMessage)
    val e3 = intercept[Exception] { spark.sql(
      """MERGE INTO graft.db.t_mca t USING mca_src s ON t.id = s.id
        |WHEN MATCHED AND (SELECT COUNT(*) FROM mca_aux) > 0 THEN DELETE
        |""".stripMargin) }
    assert(e3.getMessage.contains("WHEN clause condition"), e3.getMessage)
    val e4 = intercept[Exception] { spark.sql(
      """MERGE INTO graft.db.t_mca t USING mca_src s
        |ON t.id = s.id AND rand() < 2 WHEN MATCHED THEN DELETE
        |""".stripMargin) }
    assert(e4.getMessage.toLowerCase.contains("deterministic"), e4.getMessage)
    // a COUNT-family select expression that can be NULL on a COVERED key
    // (NULLIF) must refuse — the uncovered-key coalesce would conflate
    // "not covered" (0) with "covered but NULL"
    val e5 = intercept[Exception] { spark.sql(
      """MERGE INTO graft.db.t_mca t USING mca_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET
        |  v = (SELECT NULLIF(COUNT(*), 2) FROM mca_aux a WHERE a.k = t.id)
        |""".stripMargin) }
    assert(e5.getMessage.contains("MERGE source"), e5.getMessage)
    // NMBS assignments have no source frame to decorrelate into — any
    // subquery there refuses loudly, never a dangling-outer-ref internal
    val e6 = intercept[Exception] { spark.sql(
      """MERGE INTO graft.db.t_mca t USING mca_src s ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET
        |  v = (SELECT MAX(x) FROM mca_aux a WHERE a.k = t.id)
        |""".stripMargin) }
    assert(e6.getMessage.contains("NOT MATCHED BY SOURCE assignment"),
      e6.getMessage)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft.db.t_mca")
      .collect()(0).getLong(0) == 30L, "refusals must not mutate")
    spark.sql("DROP TABLE graft.db.t_mca")
  }

  test("ALTER TABLE WRITE ORDERED BY persists the declared order; bulk " +
      "INSERTs produce disjoint per-file envelopes; WRITE UNORDERED clears") {
    import org.apache.spark.sql.types._
    val _ = wh // force the catalog fixture (warehouse conf) first
    spark.sql("CREATE TABLE graft.db.t_wodd (id BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE graft.db.t_wodd WRITE ORDERED BY id ASC")
    def gen = new GraftTableGenerator(spark, s"$wh/db", "t_wodd").open()
    assert(gen.writeOrder == Seq("id"), s"got ${gen.writeOrder}")
    // a shuffled permutation insert: the declared order must range-
    // partition it so per-file id envelopes are DISJOINT
    spark.sql("INSERT INTO graft.db.t_wodd " +
      "SELECT (id * 37) % 1000 AS id, id AS v FROM range(0, 1000)")
    val st = SnapshotLog(s"$wh/db/t_wodd").load()
    val idField = st.schema.fields.find(_.name == "id").get.id
    val envs = st.dataFiles.flatMap(_.metrics.get(idField))
      .flatMap(m => m.min.zip(m.max))
      .map { case (lo, hi) => (lo.toLong, hi.toLong) }.sortBy(_._1)
    assert(envs.size > 1, "bulk insert should produce several files")
    envs.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file envelopes overlap: $envs")
      case _ =>
    }
    // DESC is not silently dropped — it falls through to a parse error
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.t_wodd WRITE ORDERED BY id DESC") }
    assert(gen.writeOrder == Seq("id"))
    spark.sql("ALTER TABLE graft.db.t_wodd WRITE UNORDERED")
    assert(gen.writeOrder.isEmpty, s"got ${gen.writeOrder}")
    spark.sql("DROP TABLE graft.db.t_wodd")
  }

  test("DELETE WHERE k NOT IN (<subquery>): NULL in the subquery no-ops, " +
      "an empty subquery truncates, null target keys survive the anti-join") {
    import org.apache.spark.sql.types._
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_notin")
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 10).toDF("id")
      .withColumn("val", col("id") * 2)
      .unionByName(spark.sql(
        "SELECT CAST(NULL AS BIGINT) AS id, CAST(-5 AS BIGINT) AS val")))
      .commit()
    spark.range(0, 6).toDF("id").createOrReplaceTempView("notin_src")
    // a NULL in the subquery → the predicate is never TRUE → no-op
    spark.sql("DELETE FROM graft.db.t_notin WHERE id NOT IN " +
      "(SELECT CASE WHEN id = 3 THEN NULL ELSE id END FROM notin_src)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_notin")
      .collect()(0).getLong(0) == 11L, "NULL-carrying NOT IN must no-op")
    // clean subquery → uncovered ids 6..9 die, the NULL-key row survives
    spark.sql("DELETE FROM graft.db.t_notin WHERE id NOT IN " +
      "(SELECT id FROM notin_src)")
    val left = spark.sql("SELECT id FROM graft.db.t_notin").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
    assert(left == (-1L +: (0L until 6L)), s"got $left")
    // empty subquery → NOT IN is TRUE everywhere (null keys included):
    // metadata-tier truncate
    spark.sql("DELETE FROM graft.db.t_notin WHERE id NOT IN " +
      "(SELECT id FROM notin_src WHERE id < 0)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_notin")
      .collect()(0).getLong(0) == 0L)
    spark.sql("DROP TABLE graft.db.t_notin")
  }

  test("SHOW PARTITIONS lists live partition tuples off the manifest; " +
      "the PARTITION spec filters; unpartitioned tables refuse") {
    fresh("t_showpart")
    val got = spark.sql("SHOW PARTITIONS graft.db.t_showpart")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("category=gizmo", "category=widget"), s"got $got")
    val filtered = spark.sql(
      "SHOW PARTITIONS graft.db.t_showpart PARTITION (category='widget')")
      .collect().map(_.getString(0)).toSeq
    assert(filtered == Seq("category=widget"), s"got $filtered")
    // dropping one partition's files (metadata-tier DELETE) drops it
    // from the listing — .partitions lists LIVE data files
    spark.sql("DELETE FROM graft.db.t_showpart WHERE category = 'widget'")
    val after = spark.sql("SHOW PARTITIONS graft.db.t_showpart")
      .collect().map(_.getString(0)).toSeq
    assert(after == Seq("category=gizmo"), s"got $after")
    // a stored value containing '/' stays ONE pair: it must not
    // prefix-match a filter on the part before its slash
    spark.sql("CREATE TABLE graft.db.t_showpart_sl (id BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO graft.db.t_showpart_sl VALUES (1, 'x/y'), (2, 'x')")
    val slashed = spark.sql(
      "SHOW PARTITIONS graft.db.t_showpart_sl PARTITION (part='x')")
      .collect().map(_.getString(0)).toSeq
    assert(slashed == Seq("part=x"), s"got $slashed")
    // unpartitioned: loud, mirroring Spark's v1 semantics
    import org.apache.spark.sql.types._
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_showpart_un")
    g.create(graft.schema.GraftSchema.of("id" -> LongType), Nil)
    g.appendData(spark.range(0, 5).toDF("id")).commit()
    val e = intercept[Exception] {
      spark.sql("SHOW PARTITIONS graft.db.t_showpart_un").collect() }
    assert(e.getMessage.toLowerCase.contains("not allowed"), e.getMessage)
    // a spec evolved on a QUIET table counts immediately (declared spec,
    // not last-snapshot spec): the refusal must lift without a write
    spark.sql("ALTER TABLE graft.db.t_showpart_un ADD PARTITION FIELD id")
    val quiet = spark.sql("SHOW PARTITIONS graft.db.t_showpart_un")
      .collect().map(_.getString(0)).toSeq
    assert(quiet.nonEmpty, "declared-spec table must list (pre-spec files " +
      s"render their identity tuple); got $quiet")
    Seq("t_showpart", "t_showpart_un", "t_showpart_sl").foreach(t =>
      spark.sql(s"DROP TABLE graft.db.$t"))
  }

  test("MERGE assignments take uncorrelated scalar subqueries as " +
      "execute-once literals; correlated / multi-row shapes stay loud") {
    import org.apache.spark.sql.types._
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_msub")
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 10).toDF("id")
      .withColumn("val", col("id"))).commit()
    spark.range(5, 15).toDF("id").createOrReplaceTempView("msub_src")
    spark.range(0, 3).toDF("b").createOrReplaceTempView("msub_b")
    spark.sql(
      """MERGE INTO graft.db.t_msub t USING msub_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET
        |  val = t.val + (SELECT MAX(b) FROM msub_b)
        |WHEN NOT MATCHED THEN INSERT (id, val)
        |  VALUES (s.id, (SELECT COUNT(*) FROM msub_b))
        |""".stripMargin)
    val got = spark.sql("SELECT id, val FROM graft.db.t_msub")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 15L).map(i =>
      i -> (if (i < 5) i else if (i < 10) i + 2 else 3L)).toMap
    assert(got == want, s"got $got")
    // the bounded materialization runs at EXECUTE time, not analysis: a
    // multi-row scalar subquery EXPLAINs fine and only fails when run
    val multi =
      """MERGE INTO graft.db.t_msub t USING msub_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET val = (SELECT b FROM msub_b)
        |""".stripMargin
    spark.sql(s"EXPLAIN $multi").collect()
    val e1 = intercept[Exception] { spark.sql(multi) }
    assert(e1.getMessage.contains("more than one row"), e1.getMessage)
    // a CORRELATED assignment subquery on a NON-ON-key target column
    // refuses at analysis with the source-rewrite hint (ON-key
    // correlation decorrelates into the source — its own test)
    val e2 = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.db.t_msub t USING msub_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET
          |  val = (SELECT MAX(b) FROM msub_b WHERE b = t.val)
          |""".stripMargin)
    }
    assert(e2.getMessage.contains("MERGE source"), e2.getMessage)
    spark.sql("DROP TABLE graft.db.t_msub")
  }

  test("UPDATE WHERE [NOT] EXISTS with a non-equality correlated conjunct " +
      "routes to the residual-aware semi/anti-join update") {
    import org.apache.spark.sql.types._
    def mk(name: String): GraftTableGenerator = {
      val g = new GraftTableGenerator(spark, s"$wh/db", name)
      g.create(graft.schema.GraftSchema.of(
        "id" -> LongType, "ts" -> LongType, "val" -> LongType), Nil)
      g.appendData(spark.range(0, 20).toDF("id")
        .withColumn("ts", col("id") * 10)
        .withColumn("val", col("id"))).commit()
      g
    }
    // source covers ids 0..9, in the ±5 band iff even — and every even id
    // carries TWO in-band witnesses: EXISTS semantics, no cardinality rule
    spark.range(0, 10).toDF("id")
      .withColumn("sts", col("id") * 10 +
        when(col("id") % 2 === 0, lit(3L)).otherwise(lit(50L)))
      .unionByName(spark.range(0, 10).toDF("id")
        .withColumn("sts", col("id") * 10 +
          when(col("id") % 2 === 0, lit(5L)).otherwise(lit(60L))))
      .createOrReplaceTempView("updres_src")
    mk("t_updres")
    spark.sql(
      """UPDATE graft.db.t_updres SET val = val + 1000 WHERE EXISTS (
        |  SELECT 1 FROM updres_src s
        |  WHERE s.id = t_updres.id
        |    AND s.sts BETWEEN t_updres.ts - 5 AND t_updres.ts + 5)
        |""".stripMargin)
    val got = spark.sql("SELECT id, val FROM graft.db.t_updres")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 20L).map(i =>
      i -> (if (i < 10 && i % 2 == 0) i + 1000 else i)).toMap
    assert(got == want, s"got $got")
    // NOT EXISTS twin with a target-only conjunct OUTSIDE the EXISTS
    spark.sql(
      """UPDATE graft.db.t_updres SET val = -1 WHERE NOT EXISTS (
        |  SELECT 1 FROM updres_src s
        |  WHERE s.id = t_updres.id
        |    AND s.sts BETWEEN t_updres.ts - 5 AND t_updres.ts + 5)
        |  AND id < 15
        |""".stripMargin)
    val got2 = spark.sql("SELECT id, val FROM graft.db.t_updres")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want2 = (0L until 20L).map(i =>
      i -> (if (i < 10 && i % 2 == 0) i + 1000
            else if (i < 15) -1L else i)).toMap
    assert(got2 == want2, s"got2 $got2")
    // scale gate: the SEMI form prunes the tombstone scan to the source's
    // key envelope — a second data file far outside [0, 9] never opens
    val g2 = mk("t_updres2")
    g2.appendData(spark.range(1000000, 1000100).toDF("id")
      .withColumn("ts", col("id") * 10)
      .withColumn("val", col("id"))).commit()
    val before = GraftTableGenerator.deleteScanFilesPlanned.get()
    spark.sql(
      """UPDATE graft.db.t_updres2 SET val = 7 WHERE EXISTS (
        |  SELECT 1 FROM updres_src s
        |  WHERE s.id = t_updres2.id AND s.sts > t_updres2.ts)
        |""".stripMargin)
    assert(GraftTableGenerator.deleteScanFilesPlanned.get() - before == 1L,
      "semi updateSemiJoin must open only files inside the source key envelope")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_updres2 WHERE val = 7")
      .collect()(0).getLong(0) == 10L) // every covered id has an sts > ts witness
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_updres2")
      .collect()(0).getLong(0) == 120L, "EXISTS-update must not change row count")
    Seq("t_updres", "t_updres2").foreach(t =>
      spark.sql(s"DROP TABLE graft.db.$t"))
  }

  test("ALTER VIEW SET/UNSET TBLPROPERTIES and ALTER NAMESPACE properties " +
      "persist in the warehouse metadata documents") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_vprops")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of("id" -> LongType), Nil)
    g.appendData(spark.range(0, 5).toDF("id")).commit()
    spark.sql("CREATE VIEW graft.db.v_props AS " +
      "SELECT id FROM graft.db.t_vprops WHERE id < 3")
    spark.sql("ALTER VIEW graft.db.v_props SET TBLPROPERTIES " +
      "('team' = 'graft', 'comment.note' = 'x')")
    spark.sql("ALTER VIEW graft.db.v_props SET TBLPROPERTIES ('team' = 'g2')")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "v_props")
    def vprops = cat.loadView(ident).properties()
    assert(vprops.get("team") == "g2" && vprops.get("comment.note") == "x",
      s"got $vprops")
    spark.sql("ALTER VIEW graft.db.v_props UNSET TBLPROPERTIES ('comment.note')")
    assert(vprops.get("team") == "g2" && !vprops.containsKey("comment.note"))
    // properties survive alongside an unchanged body
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.v_props")
      .collect()(0).getLong(0) == 3L)
    // namespace properties: SET, read back via DESCRIBE, UNSET
    spark.sql("ALTER NAMESPACE graft.db SET PROPERTIES " +
      "('team' = 'pipelines', 'tier' = 'gold')")
    val desc = spark.sql("DESCRIBE NAMESPACE EXTENDED graft.db")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("Properties").exists(p =>
      p.contains("team") && p.contains("pipelines") && p.contains("gold")),
      s"got $desc")
    spark.sql("ALTER NAMESPACE graft.db UNSET PROPERTIES ('tier')")
    val desc2 = spark.sql("DESCRIBE NAMESPACE EXTENDED graft.db")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc2.get("Properties").exists(p =>
      p.contains("pipelines") && !p.contains("gold")), s"got $desc2")
    // a properties-only namespace still drops cleanly
    spark.sql("CREATE NAMESPACE graft.nsprops WITH PROPERTIES ('a'='1')")
    assert(cat.loadNamespaceMetadata(Array("nsprops")).get("a") == "1")
    spark.sql("DROP NAMESPACE graft.nsprops")
    spark.sql("DROP VIEW graft.db.v_props")
    spark.sql("DROP TABLE graft.db.t_vprops")
  }

  test("MERGE with MULTIPLE conditioned UPDATE/INSERT expression actions: " +
      "first-match-wins order folds into one CASE WHEN bundle") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_mmulti")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType, "note" -> StringType), Nil)
    g.appendData(spark.range(0, 100).toDF("id")
      .withColumn("val", col("id") * 2)
      .withColumn("note", lit("base"))).commit()
    spark.range(50, 150).toDF("id").withColumn("bonus", col("id") % 5)
      .createOrReplaceTempView("mmulti_src")
    // order matters: id%10=0 rows satisfy BOTH update conditions — the
    // first action must win; the interleaved DELETE catches id%10=1
    spark.sql(
      """MERGE INTO graft.db.t_mmulti t USING mmulti_src s ON t.id = s.id
        |WHEN MATCHED AND s.id % 10 = 0 THEN UPDATE SET val = -1, note = 'ten'
        |WHEN MATCHED AND s.id % 10 = 1 THEN DELETE
        |WHEN MATCHED AND s.id % 2 = 0 THEN UPDATE SET val = t.val + s.bonus
        |WHEN NOT MATCHED AND s.id % 10 = 0 THEN INSERT (id, val, note)
        |  VALUES (s.id, -100, 'newten')
        |WHEN NOT MATCHED AND s.id % 2 = 1 THEN INSERT (id, val)
        |  VALUES (s.id, s.bonus)
        |""".stripMargin)
    val got = spark.sql("SELECT id, val, note FROM graft.db.t_mmulti")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).sortBy(_._1).toSeq
    def matchedWant(i: Long): Option[(Long, Long, String)] =
      if (i % 10 == 0) Some((i, -1L, "ten"))
      else if (i % 10 == 1) None // deleted
      else if (i % 2 == 0) Some((i, i * 2 + i % 5, "base"))
      else Some((i, i * 2, "base")) // matched, no action — untouched
    val want = (
      (0L until 50L).map(i => (i, i * 2, "base")) ++       // unmatched target
      (50L until 100L).flatMap(matchedWant) ++
      (100L until 150L).flatMap(i =>
        if (i % 10 == 0) Some((i, -100L, "newten"))
        else if (i % 2 == 1) Some((i, i % 5, null))
        else None)
    ).sortBy(_._1)
    assert(got == want,
      s"diff=${got.zip(want).filter(p => p._1 != p._2).take(5)}")
    // multiple conditioned NMBS actions fold the same way: an ordered
    // DELETE + two UPDATE branches, first-match-wins
    spark.range(60, 80).toDF("id").withColumn("bonus", lit(0L))
      .createOrReplaceTempView("mmulti_src2")
    spark.sql(
      """MERGE INTO graft.db.t_mmulti t USING mmulti_src2 s ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE AND t.id < 10 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.id < 20 THEN UPDATE SET note = 'teen'
        |WHEN NOT MATCHED BY SOURCE AND t.id < 30
        |  THEN UPDATE SET val = -7, note = 'twenty'
        |""".stripMargin)
    val got2 = spark.sql(
      "SELECT id, val, note FROM graft.db.t_mmulti WHERE id < 30")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).sortBy(_._1).toSeq
    val want2 = want.filter(w => w._1 >= 10 && w._1 < 30).map {
      case (i, v, n) if i < 20 => (i, v, "teen")   // first UPDATE wins
      case (i, _, _) => (i, -7L, "twenty")         // second UPDATE
    }
    assert(got2 == want2, s"got2=$got2")
  }

  test("ALTER TABLE CREATE/DROP BRANCH|TAG: Iceberg ref DDL routes through " +
      "the injected parser onto the engine's branch/tag lifecycle") {
    wh
    spark.sql("CREATE TABLE graft.db.t_refddl (id BIGINT)")
    spark.sql("INSERT INTO graft.db.t_refddl SELECT id FROM range(0, 10)")
    spark.sql("INSERT INTO graft.db.t_refddl SELECT id FROM range(10, 20)")
    val log = graft.meta.SnapshotLog(s"$wh/db/t_refddl")
    val snap1 = log.load().snapshots.head.id
    // branch at head, tag AS OF the first snapshot
    spark.sql("ALTER TABLE graft.db.t_refddl CREATE BRANCH b1")
    spark.sql(
      s"ALTER TABLE graft.db.t_refddl CREATE TAG t1 AS OF VERSION $snap1")
    assert(log.refs.contains("branch:b1") && log.refs("t1") == snap1)
    // tag read-back: the AS OF VERSION fork pins the first 10 rows
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_refddl VERSION AS OF 't1'")
      .collect()(0).getLong(0) == 10L)
    // duplicate create errors; IF NOT EXISTS tolerates
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.t_refddl CREATE BRANCH b1") }
    spark.sql("ALTER TABLE graft.db.t_refddl CREATE BRANCH IF NOT EXISTS b1")
    // WAP write to the branch, publish, read back
    spark.conf.set("spark.graft.wap.branch.db.t_refddl", "b1")
    try spark.sql("INSERT INTO graft.db.t_refddl SELECT id FROM range(20, 25)")
    finally spark.conf.unset("spark.graft.wap.branch.db.t_refddl")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_refddl")
      .collect()(0).getLong(0) == 20L, "unpublished branch write leaked to main")
    spark.sql("CALL graft.system.fast_forward(" +
      "table => 'db.t_refddl', branch => 'b1')")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_refddl")
      .collect()(0).getLong(0) == 25L)
    // REPLACE repoints an existing ref; CREATE OR REPLACE creates-or-repoints
    val snap2 = log.load().mainOnly.snapshots.map(_.id).sorted.apply(1)
    spark.sql(s"ALTER TABLE graft.db.t_refddl REPLACE TAG t1 " +
      s"AS OF VERSION $snap2")
    assert(log.refs("t1") == snap2)
    spark.sql(s"ALTER TABLE graft.db.t_refddl CREATE OR REPLACE TAG t9 " +
      s"AS OF VERSION $snap1")
    assert(log.refs("t9") == snap1)
    intercept[Exception] { // bare REPLACE of a missing ref stays loud
      spark.sql("ALTER TABLE graft.db.t_refddl REPLACE BRANCH ghostb") }
    // REPLACE of a branch WITH its own commits repoints by ORPHANING
    // them (the dropBranch reclaim discipline): the branch's snapshots
    // leave the log, their exclusively-referenced files are physically
    // reclaimed, and main reads / time travel are untouched
    spark.sql("ALTER TABLE graft.db.t_refddl CREATE BRANCH b2")
    spark.conf.set("spark.graft.wap.branch.db.t_refddl", "b2")
    try spark.sql("INSERT INTO graft.db.t_refddl SELECT id FROM range(90, 95)")
    finally spark.conf.unset("spark.graft.wap.branch.db.t_refddl")
    val branchFiles = log.load().snapshots.filter(_.branch == "b2")
      .flatMap(_.dataFiles).map(_.path)
    assert(branchFiles.nonEmpty, "branch write must have produced files")
    val mainBefore = spark.sql("SELECT count(*) AS n FROM graft.db.t_refddl")
      .collect()(0).getLong(0)
    // a typo'd fork version refuses BEFORE orphaning anything
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.t_refddl REPLACE BRANCH b2 " +
        "AS OF VERSION 987654") }
    assert(log.load().snapshots.exists(_.branch == "b2"),
      "failed REPLACE must not orphan the branch")
    spark.sql(s"ALTER TABLE graft.db.t_refddl REPLACE BRANCH b2 " +
      s"AS OF VERSION $snap1")
    assert(log.refs("branch:b2") == snap1)
    assert(log.load().snapshots.forall(_.branch != "b2"),
      "the branch's own snapshots must leave the log")
    assert(branchFiles.forall(p =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(p))),
      "orphaned branch files must be reclaimed")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_refddl")
      .collect()(0).getLong(0) == mainBefore, "main read changed")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.db.t_refddl VERSION AS OF $snap1")
      .collect()(0).getLong(0) == 10L, "time travel changed")
    spark.sql("ALTER TABLE graft.db.t_refddl CREATE BRANCH b3")
    spark.sql(s"ALTER TABLE graft.db.t_refddl REPLACE BRANCH b3 " +
      s"AS OF VERSION $snap1")
    assert(log.refs("branch:b3") == snap1)
    Seq("b2", "b3").foreach(b =>
      spark.sql(s"ALTER TABLE graft.db.t_refddl DROP BRANCH $b"))
    spark.sql("ALTER TABLE graft.db.t_refddl DROP TAG t9")
    // drops: IF EXISTS tolerates absence, bare drop of missing errors
    spark.sql("ALTER TABLE graft.db.t_refddl DROP BRANCH b1")
    spark.sql("ALTER TABLE graft.db.t_refddl DROP BRANCH IF EXISTS b1")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.t_refddl DROP TAG ghost") }
    spark.sql("ALTER TABLE graft.db.t_refddl DROP TAG t1")
    assert(!log.refs.contains("branch:b1") && !log.refs.contains("t1"))
    // a mismatched IF clause is a parse error, not inverted tolerance:
    // IF EXISTS pairs with DROP only, IF NOT EXISTS with CREATE only
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.t_refddl CREATE BRANCH IF EXISTS bx") }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.t_refddl DROP BRANCH IF NOT EXISTS bx") }
    assert(!log.refs.contains("branch:bx"))
    // a typo'd AS OF VERSION must not create a dangling tag
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.t_refddl CREATE TAG tghost " +
        "AS OF VERSION 987654") }
    assert(!log.refs.contains("tghost"))
    spark.sql("DROP TABLE graft.db.t_refddl")
  }

  test("UPDATE SET with an uncorrelated scalar subquery materializes once " +
      "at execute time; correlated / multi-row shapes stay loud") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_usub")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 100).toDF("id")
      .withColumn("val", col("id") * 2)).commit()
    val s = new GraftTableGenerator(spark, s"$wh/db", "t_usub_src")
    s.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "w" -> LongType), Nil)
    s.appendData(spark.range(0, 50).toDF("id")
      .withColumn("w", col("id") % 7)).commit()
    spark.sql("UPDATE graft.db.t_usub " +
      "SET val = (SELECT MAX(id) FROM graft.db.t_usub_src) + id " +
      "WHERE id % 3 = 0")
    val got = spark.sql("SELECT id, val FROM graft.db.t_usub")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 100L).map(i =>
      i -> (if (i % 3 == 0) 49L + i else i * 2)).toMap
    assert(got == want)
    // empty scalar subquery → NULL, per SQL
    spark.sql("UPDATE graft.db.t_usub " +
      "SET val = (SELECT MAX(id) FROM graft.db.t_usub_src WHERE id > 999) " +
      "WHERE id = 1")
    assert(spark.sql("SELECT val FROM graft.db.t_usub WHERE id = 1")
      .collect()(0).isNullAt(0))
    // >1 row → loud at execution
    val e1 = intercept[Exception] {
      spark.sql("UPDATE graft.db.t_usub " +
        "SET val = (SELECT id FROM graft.db.t_usub_src) WHERE id = 2")
    }
    assert(e1.getMessage.toLowerCase.contains("more than one row") ||
      e1.getMessage.contains("MULTI"), e1.getMessage)
    // correlated-by-key AGGREGATE subquery: the enrichment JOIN — matched
    // keys take the per-key aggregate, uncovered keys take NULL (the SQL
    // value of max() over zero rows)
    spark.sql("UPDATE graft.db.t_usub SET val = (SELECT MAX(w) " +
      "FROM graft.db.t_usub_src s WHERE s.id = t_usub.id) WHERE id >= 40")
    val corr = spark.sql("SELECT id, val FROM graft.db.t_usub WHERE id >= 40")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    (40L until 50L).foreach(i => assert(corr(i) == i % 7, s"id $i: ${corr(i)}"))
    (50L until 100L).foreach(i => assert(corr(i) == null,
      s"uncovered key $i must take NULL, got ${corr(i)}"))
    // COUNT-family correlated aggregates: covered keys take the per-key
    // count, uncovered keys take 0 — SQL counts an empty group 0, never
    // NULL, so the rewrite substitutes 0 on the uncovered (NMBS) leg
    spark.sql("UPDATE graft.db.t_usub SET val = (SELECT COUNT(*) " +
      "FROM graft.db.t_usub_src s WHERE s.id = t_usub.id)")
    val cnt = spark.sql("SELECT id, val FROM graft.db.t_usub")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 50L).foreach(i => assert(cnt(i) == 1L,
      s"covered key $i must count 1, got ${cnt(i)}"))
    (50L until 100L).foreach(i => assert(cnt(i) == 0L,
      s"uncovered key $i must count 0, got ${cnt(i)}"))
    // aggregates OUTSIDE the NULL-on-empty whitelist stay loud
    // (approx_count_distinct is 0 on empty, collect_list is [] — a NULL
    // substitution on the uncovered leg would be silently wrong)
    val e2 = intercept[Exception] {
      spark.sql("UPDATE graft.db.t_usub SET val = " +
        "(SELECT APPROX_COUNT_DISTINCT(s.w) " +
        "FROM graft.db.t_usub_src s WHERE s.id = t_usub.id)")
    }
    assert(e2.getMessage.contains("MERGE"), e2.getMessage)
    // non-aggregate correlated subqueries stay loud too
    val e3 = intercept[Exception] {
      spark.sql("UPDATE graft.db.t_usub SET val = (SELECT s.w " +
        "FROM graft.db.t_usub_src s WHERE s.id = t_usub.id)")
    }
    assert(e3.getMessage.contains("MERGE"), e3.getMessage)
  }

  test("MERGE ON with non-equi residual conjuncts: key equality routes, " +
      "the time band narrows matches; NMBS honors the full ON") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_mrange")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "ts" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 10).toDF("id")
      .withColumn("ts", col("id") * 10).withColumn("val", col("id"))).commit()
    // ids 0..4 in-band (ts = 10id+3), 5..7 out-of-band (ts = 10id+50),
    // 20..21 new keys
    spark.range(0, 5).toDF("id").withColumn("ts", col("id") * 10 + 3)
      .unionByName(spark.range(5, 8).toDF("id")
        .withColumn("ts", col("id") * 10 + 50))
      .unionByName(spark.range(20, 22).toDF("id")
        .withColumn("ts", col("id") * 10))
      .withColumn("val", col("id") + 100)
      .createOrReplaceTempView("mrange_src")
    spark.sql(
      """MERGE INTO graft.db.t_mrange t USING mrange_src s
        |ON t.id = s.id AND s.ts BETWEEN t.ts - 5 AND t.ts + 5
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    val got = spark.sql("SELECT id, ts, val FROM graft.db.t_mrange")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val want = (
      (0L until 5L).map(i => (i, i * 10 + 3, i + 100)) ++   // in-band update
      (5L until 8L).map(i => (i, i * 10, i)) ++             // old row SURVIVES
      (5L until 8L).map(i => (i, i * 10 + 50, i + 100)) ++  // out-of-band insert
      (8L until 10L).map(i => (i, i * 10, i)) ++            // untouched
      (20L until 22L).map(i => (i, i * 10, i + 100))        // new keys insert
    ).sorted
    assert(got == want, s"got $got")
    // NMBS under a residual ON: only rows NO source row fully-matches are
    // NOT MATCHED BY SOURCE — the out-of-band id 5..7 old rows qualify
    spark.range(0, 8).toDF("id").withColumn("ts", col("id") * 10 + 3)
      .withColumn("val", lit(0L)).createOrReplaceTempView("mrange_src2")
    spark.sql(
      """MERGE INTO graft.db.t_mrange t USING mrange_src2 s
        |ON t.id = s.id AND s.ts BETWEEN t.ts - 5 AND t.ts + 5
        |WHEN MATCHED THEN UPDATE SET val = t.val + 1000
        |WHEN NOT MATCHED BY SOURCE AND t.id BETWEEN 5 AND 7 THEN DELETE
        |""".stripMargin)
    val got2 = spark.sql("SELECT id, ts, val FROM graft.db.t_mrange")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    // the key-only anti-join would call EVERY id-5..7 row "matched by
    // source" and delete none; the full-ON anti-join keeps the in-band
    // (i, 10i) rows matched+updated and deletes ONLY their out-of-band
    // (i, 10i+50) siblings — the rows no source row fully-matches
    val want2 = (
      (0L until 5L).map(i => (i, i * 10 + 3, i + 1100)) ++
      (5L until 8L).map(i => (i, i * 10, i + 1000)) ++
      (8L until 10L).map(i => (i, i * 10, i)) ++
      (20L until 22L).map(i => (i, i * 10, i + 100))
    ).sorted
    assert(got2 == want2, s"got2 $got2")
    // no-key ON stays a loud error
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.db.t_mrange t USING mrange_src s
          |ON t.ts < s.ts WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("equality"), e.getMessage)
  }

  test("NMBS on NULL-key target rows: DELETE actually removes them and " +
      "UPDATE does not duplicate (positional-delete leg, not eq-delete)") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_nmbs_null")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    // rows 0..9 plus TWO null-key rows (val -1 and -2); a NULL key never
    // matches the ON join, so both are NOT MATCHED BY SOURCE by definition
    def nullKeyRows(vals: Long*) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(v =>
        org.apache.spark.sql.Row(null, v))),
      StructType(Seq(StructField("id", LongType), StructField("val", LongType))))
    g.appendData(spark.range(0, 10).toDF("id")
      .withColumn("val", col("id") * 2)
      .unionByName(nullKeyRows(-1L, -2L))).commit()
    spark.range(0, 5).toDF("id").withColumn("val", col("id") * 10)
      .createOrReplaceTempView("nmbs_null_src")
    spark.sql(
      """MERGE INTO graft.db.t_nmbs_null t USING nmbs_null_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED BY SOURCE AND t.val = -1 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.val < 0
        |  THEN UPDATE SET val = t.val - 100
        |""".stripMargin)
    val got = spark.sql("SELECT id, val FROM graft.db.t_nmbs_null")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    // null/-1 deleted (eq-delete with NULL _dk would silently no-op);
    // null/-2 updated ONCE to -102 (eq-delete miss would leave a duplicate);
    // 0..4 updated from source; 5..9 NMBS-unmatched-by-condition, untouched
    val want = (Seq((-1L, -102L)) ++ (0L until 5L).map(i => (i, i * 10)) ++
      (5L until 10L).map(i => (i, i * 2))).sorted
    assert(got == want, s"got $got")
    // API twin with vector deletes on: null-key NMBS rows merge into the DV
    val g2 = new GraftTableGenerator(spark, s"$wh/db", "t_nmbs_null_dv")
    g2.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g2.appendData(spark.range(1, 2).toDF("id").withColumn("val", lit(1L))
      .unionByName(nullKeyRows(7L))).commit()
    g2.vectorDeletes(true)
    g2.mergeInto(spark.range(1, 2).toDF("id").withColumn("val", lit(5L)),
      Seq("id"), nmbsDeleteWhen = Some(lit(true))).commit()
    val got2 = MorReader.read(spark, g2.tableDir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == Seq((1L, 5L)), s"got $got2")
  }

  test("DELETE WHERE [NOT] EXISTS routes to semi/anti-join deletes; " +
      "unsupported correlation stays a loud error") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_exists")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    // one NULL-key row: EXISTS never matches it; NOT EXISTS deletes it
    g.appendData(spark.range(0, 100).toDF("id")
      .withColumn("id", when(col("id") === 99, lit(null).cast("long"))
        .otherwise(col("id")))
      .withColumn("val", coalesce(col("id"), lit(-1L)) * 2)).commit()
    spark.range(0, 60).toDF("id").withColumn("tag", col("id") % 2)
      .createOrReplaceTempView("exists_src")
    val pre = SnapshotLog(g.tableDir.toString).lastSnapshotId
    // semi: ids 0..59 with tag=0 (even) die; null-key row survives
    spark.sql(
      """DELETE FROM graft.db.t_exists t WHERE EXISTS (
        |  SELECT 1 FROM exists_src s WHERE s.id = t.id AND s.tag = 0)
        |""".stripMargin)
    assert(SnapshotLog(g.tableDir.toString).lastSnapshotId == pre + 1)
    val afterSemi = spark.sql("SELECT count(*) AS n FROM graft.db.t_exists")
      .collect()(0).getLong(0)
    assert(afterSemi == 100 - 30, s"semi delete: got $afterSemi")
    // anti: everything without a source match dies — odd ids 1..59 remain
    spark.sql(
      """DELETE FROM graft.db.t_exists t WHERE NOT EXISTS (
        |  SELECT 1 FROM exists_src s WHERE s.id = t.id)""".stripMargin)
    val got = spark.sql("SELECT id FROM graft.db.t_exists")
      .collect().map(_.getLong(0)).toSet
    assert(got == (1L until 60L by 2).toSet,
      s"anti delete must keep only source-covered ids (null key dies); got $got")
    // beyond key-equality correlation → loud graft error, not a wrong answer
    val e = intercept[Exception] {
      spark.sql(
        """DELETE FROM graft.db.t_exists t WHERE EXISTS (
          |  SELECT 1 FROM exists_src s WHERE s.id > t.id)""".stripMargin)
    }
    assert(e.getMessage.contains("EXISTS") || e.getMessage.contains("MERGE"),
      s"expected the loud unsupported-shape error, got: ${e.getMessage}")
  }

  test("DML subquery composites: EXISTS AND residual, NOT EXISTS residual " +
      "update, multi-column IN") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_exres")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 100).toDF("id")
      .withColumn("val", col("id") * 2)).commit()
    spark.range(0, 60).toDF("k").createOrReplaceTempView("exres_src")
    // EXISTS + residual: covered ids with val >= 100 (i.e. id in 50..59)
    spark.sql(
      """DELETE FROM graft.db.t_exres t WHERE EXISTS (
        |  SELECT 1 FROM exres_src s WHERE s.k = t.id) AND t.val >= 100
        |""".stripMargin)
    var ids = spark.sql("SELECT id FROM graft.db.t_exres")
      .collect().map(_.getLong(0)).toSet
    assert(ids == ((0L until 50L) ++ (60L until 100L)).toSet,
      s"EXISTS+residual delete wrong: ${ids.size} rows")
    // NOT EXISTS + residual UPDATE: uncovered ids (60..99) with id % 2 = 0
    spark.sql(
      """UPDATE graft.db.t_exres t SET val = -7 WHERE NOT EXISTS (
        |  SELECT 1 FROM exres_src s WHERE s.k = t.id) AND t.id % 2 = 0
        |""".stripMargin)
    val neg = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_exres WHERE val = -7")
      .collect()(0).getLong(0)
    assert(neg == 20L, s"NOT EXISTS residual update: $neg rows")
    // multi-column IN: (id, val) pairs — only exact pairs die
    spark.range(0, 10).selectExpr("id AS a", "id * 2 AS b")
      .createOrReplaceTempView("exres_pairs")
    spark.sql(
      """DELETE FROM graft.db.t_exres t WHERE (t.id, t.val) IN (
        |  SELECT a, b FROM exres_pairs)""".stripMargin)
    ids = spark.sql("SELECT id FROM graft.db.t_exres")
      .collect().map(_.getLong(0)).toSet
    assert(!ids.exists(_ < 10L) && ids.contains(10L),
      s"multi-column IN delete wrong: ${ids.toSeq.sorted.take(12)}")
  }

  test("CREATE OR REPLACE TABLE: atomic staged replace — nothing preserved, " +
      "mid-write failure leaves the old table readable") {
    wh // force the shared warehouse conf
    spark.sql("CREATE TABLE graft.db.t_cor (id BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO graft.db.t_cor " +
      "SELECT id, 'a' AS part FROM range(0, 50)")
    // CoR-TAS: new schema, new partitioning, new content — REPLACE
    // preserves nothing from the old definition
    spark.sql("CREATE OR REPLACE TABLE graft.db.t_cor AS " +
      "SELECT id, id * 3 AS triple FROM range(0, 20)")
    val afterRows = spark.sql(
      "SELECT count(*) AS n, sum(triple) AS s FROM graft.db.t_cor").collect()(0)
    assert(afterRows.getLong(0) == 20L && afterRows.getLong(1) == 3L * 190)
    assert(spark.table("graft.db.t_cor").columns.toSeq == Seq("id", "triple"),
      "replaced table must carry ONLY the new schema")
    // mid-write failure: the staged write dies; the live table is untouched
    intercept[Exception] {
      spark.sql("CREATE OR REPLACE TABLE graft.db.t_cor AS " +
        "SELECT id, raise_error('boom') AS triple FROM range(0, 5)")
    }
    val survived = spark.sql(
      "SELECT count(*) AS n, sum(triple) AS s FROM graft.db.t_cor").collect()(0)
    assert(survived.getLong(0) == 20L && survived.getLong(1) == 3L * 190,
      "failed replace must leave the previous table state readable")
    // no staging debris surfaces in the catalog listing
    assert(!spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).exists(_.contains("stage")))
    // CREATE OR REPLACE over a missing table creates; bare REPLACE refuses
    spark.sql("CREATE OR REPLACE TABLE graft.db.t_cor_new AS " +
      "SELECT id FROM range(0, 7)")
    assert(spark.table("graft.db.t_cor_new").count() == 7L)
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft.db.t_cor_missing AS SELECT id FROM range(3)")
    }
    spark.sql("DROP TABLE graft.db.t_cor")
    spark.sql("DROP TABLE graft.db.t_cor_new")
  }

  test("ALTER TABLE RENAME rebases recorded paths — data files, metadata " +
      "JSON, and file_path refs inside pos/dv delete parquet") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_ren_old")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 100).toDF("id")
      .withColumn("val", col("id") * 2)).commit()
    g.positionalDelete(col("id") < 10).commit() // pos tombstones w/ file_path
    g.vectorDeletes(true)
    g.positionalDelete(col("id") >= 95).commit() // DV w/ file_path
    spark.sql("ALTER TABLE graft.db.t_ren_old RENAME TO db.t_ren_new")
    val got = spark.sql("SELECT id FROM graft.db.t_ren_new")
      .collect().map(_.getLong(0)).toSet
    assert(got == (10L until 95L).toSet,
      s"renamed table must read with all deletes applied; got ${got.size} rows")
    // time travel across the rename still resolves (old snapshots rebased)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_ren_new VERSION AS OF 1")
      .collect()(0).getLong(0) == 100L)
    assert(!spark.catalog.tableExists("graft.db.t_ren_old") ||
      spark.sql("SHOW TABLES IN graft.db").collect()
        .forall(_.getString(1) != "t_ren_old"))
    spark.sql("DROP TABLE graft.db.t_ren_new")
  }

  test("ALTER TABLE ADD/DROP/REPLACE PARTITION FIELD: the SQL-extension " +
      "DDL drives partition evolution through the injected parser") {
    wh
    spark.sql("CREATE TABLE graft.db.t_pf (id BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO graft.db.t_pf SELECT id, 'a' FROM range(0, 10)")
    def spec: Seq[String] =
      new graft.catalog.GraftSparkTable("t_pf", s"$wh/db/t_pf")
        .outlineState.partitionCols
    spark.sql("ALTER TABLE graft.db.t_pf ADD PARTITION FIELD bucket(4, id)")
    assert(spec == Seq("part", "bucket(4,id)"), s"after ADD: $spec")
    spark.sql("ALTER TABLE graft.db.t_pf DROP PARTITION FIELD part")
    assert(spec == Seq("bucket(4,id)"), s"after DROP: $spec")
    spark.sql("ALTER TABLE graft.db.t_pf " +
      "REPLACE PARTITION FIELD bucket(4, id) WITH bucket(8, id)")
    assert(spec == Seq("bucket(8,id)"), s"after REPLACE: $spec")
    // the new epoch writes under the evolved spec; reads union epochs
    spark.sql("INSERT INTO graft.db.t_pf SELECT id, 'b' FROM range(10, 30)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_pf")
      .collect()(0).getLong(0) == 30L)
    // normal SQL is untouched by the parser shim
    assert(spark.sql("SELECT 1 + 1 AS two").collect()(0).getInt(0) == 2)
    // a statement that merely CONTAINS the DDL keywords inside a string
    // literal is NOT hijacked — it parses normally through the delegate
    spark.sql("ALTER TABLE graft.db.t_pf SET TBLPROPERTIES " +
      "('note'='how to ADD PARTITION FIELD x in a comment')")
    val note = spark.sql("SHOW TBLPROPERTIES graft.db.t_pf").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(note.get("note").exists(_.contains("ADD PARTITION FIELD")),
      s"TBLPROPERTIES statement was hijacked by the partition-DDL regex: $note")
    spark.sql("DROP TABLE graft.db.t_pf")
  }

  test("catalog views: CREATE/DROP VIEW persisted in the warehouse; MoR " +
      "deletes, travel in the body, nesting, aliases all apply") {
    val g = fresh("t_vbase") // widget 0..99 (snap 1), gizmo 100..199 (snap 2)
    g.positionalDelete(Seq("widget"), col("product_id") < 5).commit()
    spark.sql("CREATE VIEW graft.db.v_products AS " +
      "SELECT product_id, category FROM graft.db.t_vbase WHERE product_id < 150")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.v_products")
      .collect()(0).getLong(0) == 145L, "view must see MoR deletes applied")
    // time travel INSIDE the view body
    spark.sql("CREATE VIEW graft.db.v_travel AS " +
      "SELECT count(*) AS n FROM graft.db.t_vbase VERSION AS OF 1")
    assert(spark.sql("SELECT n FROM graft.db.v_travel")
      .collect()(0).getLong(0) == 100L)
    // a view over a view
    spark.sql("CREATE VIEW graft.db.v_nested AS SELECT category, " +
      "count(*) AS n FROM graft.db.v_products GROUP BY category")
    val nested = spark.sql(
      "SELECT category, n FROM graft.db.v_nested ORDER BY category")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nested == Map("gizmo" -> 50L, "widget" -> 95L))
    // explicit column list
    spark.sql("CREATE VIEW graft.db.v_alias (pid) AS " +
      "SELECT product_id FROM graft.db.t_vbase WHERE product_id >= 190")
    assert(spark.table("graft.db.v_alias").columns.toSeq == Seq("pid"))
    assert(spark.sql("SELECT sum(pid) AS s FROM graft.db.v_alias")
      .collect()(0).getLong(0) == (190 until 200).sum.toLong)
    // duplicate CREATE errors; IF NOT EXISTS is a no-op
    intercept[Exception] {
      spark.sql("CREATE VIEW graft.db.v_products AS SELECT 1 AS x")
    }
    spark.sql("CREATE VIEW IF NOT EXISTS graft.db.v_products AS SELECT 1 AS x")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.v_products")
      .collect()(0).getLong(0) == 145L, "IF NOT EXISTS must not replace")
    // CREATE OR REPLACE swaps the definition; recursive bodies are rejected
    spark.sql("CREATE OR REPLACE VIEW graft.db.v_travel AS " +
      "SELECT count(*) AS n FROM graft.db.t_vbase VERSION AS OF 2")
    assert(spark.sql("SELECT n FROM graft.db.v_travel")
      .collect()(0).getLong(0) == 200L)
    intercept[Exception] {
      spark.sql("CREATE OR REPLACE VIEW graft.db.v_travel AS " +
        "SELECT * FROM graft.db.v_travel")
    }
    // SHOW VIEWS lists the namespace's stored views, pattern-filterable
    val shown = spark.sql("SHOW VIEWS IN graft.db").collect()
      .map(_.getString(1)).toSet
    assert(Set("v_products", "v_travel", "v_nested", "v_alias").subsetOf(shown),
      s"SHOW VIEWS missing entries: $shown")
    assert(spark.sql("SHOW VIEWS IN graft.db LIKE 'v_tra*'").collect()
      .map(_.getString(1)).toSeq == Seq("v_travel"))
    // LIKE is Spark's filter-pattern language, not raw regex: metachars
    // match literally (no PatternSyntaxException), `|` separates, `*` globs
    assert(spark.sql("SHOW VIEWS IN graft.db LIKE 'v_tra+vel'").collect()
      .isEmpty, "'+' must match literally, not as a regex quantifier")
    assert(spark.sql("SHOW VIEWS IN graft.db LIKE 'v(trav*'").collect()
      .isEmpty, "'(' must not throw PatternSyntaxException")
    assert(spark.sql("SHOW VIEWS IN graft.db LIKE 'v_trav*|v_prod*'")
      .collect().map(_.getString(1)).toSet == Set("v_travel", "v_products"))
    // ALTER VIEW ... AS replaces in place; missing views stay an error
    spark.sql("ALTER VIEW graft.db.v_alias AS " +
      "SELECT count(*) AS c FROM graft.db.t_vbase")
    assert(spark.sql("SELECT c FROM graft.db.v_alias")
      .collect()(0).getLong(0) == 195L) // 200 minus the 5 deleted rows
    intercept[Exception] {
      spark.sql("ALTER VIEW graft.db.v_missing AS SELECT 1 AS x")
    }
    // ALTER VIEW ... RENAME TO within the catalog
    spark.sql("ALTER VIEW graft.db.v_alias RENAME TO db.v_alias2")
    assert(spark.sql("SELECT c FROM graft.db.v_alias2")
      .collect()(0).getLong(0) == 195L)
    intercept[Exception] { spark.table("graft.db.v_alias").collect() }
    spark.sql("ALTER VIEW graft.db.v_alias2 RENAME TO db.v_alias")
    // DROP removes; IF EXISTS tolerates absence
    spark.sql("DROP VIEW graft.db.v_nested")
    intercept[Exception] { spark.table("graft.db.v_nested").collect() }
    spark.sql("DROP VIEW IF EXISTS graft.db.v_absent")
    intercept[Exception] { spark.sql("DROP VIEW graft.db.v_absent") }
    Seq("v_products", "v_travel", "v_alias").foreach(v =>
      spark.sql(s"DROP VIEW graft.db.$v"))
  }

  test("views: CTE bodies still qualify OUTER table refs in the view's " +
      "definition context; mutual view recursion raises a clear error") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_cte_rel")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 10).toDF("id")
      .withColumn("val", col("id") * 2)).commit()
    // define the view with the graft catalog CURRENT, using a single-part
    // table name inside a CTE body
    spark.sql("USE graft.db")
    spark.sql("CREATE VIEW graft.db.v_cte AS " +
      "WITH c AS (SELECT id, val FROM t_cte_rel WHERE id < 5) " +
      "SELECT sum(val) AS s FROM c")
    // read from a DIFFERENT context, with a decoy temp view shadowing the
    // single-part name — definition-context qualification must win
    spark.sql("USE spark_catalog.default")
    spark.range(0, 3).toDF("id").withColumn("val", lit(1000L))
      .createOrReplaceTempView("t_cte_rel")
    assert(spark.sql("SELECT s FROM graft.db.v_cte")
      .collect()(0).getLong(0) == (0L until 5L).map(_ * 2).sum,
      "CTE-bearing view body must resolve outer refs in the view's " +
        "definition context, not the reader's")
    spark.catalog.dropTempView("t_cte_rel")
    // mutual recursion: v_m1 -> v_m2 -> v_m1 escapes the CREATE-time
    // direct-self-reference check; the READ must fail loudly, not diverge
    spark.sql("CREATE VIEW graft.db.v_m1 AS " +
      "SELECT id FROM graft.db.t_cte_rel")
    spark.sql("CREATE VIEW graft.db.v_m2 AS SELECT id FROM graft.db.v_m1")
    spark.sql("CREATE OR REPLACE VIEW graft.db.v_m1 AS " +
      "SELECT id FROM graft.db.v_m2")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.v_m1").collect()
    }
    assert(e.getMessage.toLowerCase.contains("recursive"),
      s"expected a recursive-view error, got: ${e.getMessage}")
    Seq("v_cte", "v_m1", "v_m2").foreach(v =>
      spark.sql(s"DROP VIEW graft.db.$v"))
    spark.sql("DROP TABLE graft.db.t_cte_rel")
  }

  test("MERGE with expression assignments: UPDATE SET over target+source, " +
      "INSERT with explicit column list, source without full schema") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_mexpr")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 200).toDF("id")
      .withColumn("val", col("id") * 2)).commit()
    // the source does NOT carry `val` — non-star merges only need keys +
    // referenced columns
    spark.range(100, 300).toDF("id").withColumn("bonus", col("id") % 7)
      .createOrReplaceTempView("mexpr_src")
    val pre = SnapshotLog(g.tableDir.toString).lastSnapshotId
    spark.sql(
      """MERGE INTO graft.db.t_mexpr t USING mexpr_src s ON t.id = s.id
        |WHEN MATCHED AND s.id % 10 <> 5 THEN UPDATE SET val = t.val + s.bonus
        |WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id, s.bonus * 100)
        |""".stripMargin)
    assert(SnapshotLog(g.tableDir.toString).lastSnapshotId == pre + 1)
    val got = spark.sql("SELECT id, val FROM graft.db.t_mexpr")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ((0L until 100L).map(i => i -> i * 2) ++
      (100L until 200L).map(i =>
        i -> (if (i % 10 == 5) i * 2 else i * 2 + i % 7)) ++
      (200L until 300L).map(i => i -> (i % 7) * 100)).toMap
    assert(got == want)
    // uncorrelated scalar subqueries in SET materialize once at execute
    // time (max(bonus) over ids 100..299 % 7 = 6)
    spark.sql(
      """MERGE INTO graft.db.t_mexpr t USING mexpr_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET
        |  val = (SELECT max(bonus) FROM mexpr_src)""".stripMargin)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_mexpr WHERE id >= 100 AND val <> 6")
      .collect()(0).getLong(0) == 0L)
  }

  test("UPDATE WHERE [NOT] EXISTS rides the merge machinery " +
      "(semi/anti-join update)") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_updex")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 100).toDF("id")
      .withColumn("val", col("id") * 2)).commit()
    // duplicate subquery keys must NOT trip merge cardinality
    spark.range(0, 120).selectExpr("id % 60 AS k").createOrReplaceTempView("updex_src")
    val pre = SnapshotLog(g.tableDir.toString).lastSnapshotId
    spark.sql(
      """UPDATE graft.db.t_updex t SET val = t.val + 1000 WHERE EXISTS (
        |  SELECT 1 FROM updex_src s WHERE s.k = t.id)""".stripMargin)
    assert(SnapshotLog(g.tableDir.toString).lastSnapshotId == pre + 1,
      "EXISTS update must commit one snapshot")
    spark.sql(
      """UPDATE graft.db.t_updex t SET val = -1 WHERE NOT EXISTS (
        |  SELECT 1 FROM updex_src s WHERE s.k = t.id)""".stripMargin)
    val got = spark.sql("SELECT id, val FROM graft.db.t_updex")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 100L).map(i =>
      i -> (if (i < 60) i * 2 + 1000 else -1L)).toMap
    assert(got == want)
  }

  test("SHOW CREATE TABLE and DESCRIBE EXTENDED surface schema, hidden " +
      "partitioning, and persisted properties") {
    wh
    spark.sql("CREATE TABLE graft.db.t_showc (id BIGINT, day STRING) " +
      "PARTITIONED BY (day, bucket(4, id)) " +
      "TBLPROPERTIES ('quality.tier'='gold')")
    val ddl = spark.sql("SHOW CREATE TABLE graft.db.t_showc")
      .collect()(0).getString(0)
    assert(ddl.contains("t_showc") && ddl.contains("id BIGINT") &&
      ddl.contains("day") && ddl.toLowerCase.contains("bucket"),
      s"SHOW CREATE TABLE output incomplete:\n$ddl")
    assert(ddl.contains("quality.tier"), s"properties missing:\n$ddl")
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft.db.t_showc")
      .collect().map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
    assert(desc.contains("id") && desc.contains("bigint"), desc)
    assert(desc.toLowerCase.contains("bucket"), s"hidden transform missing:\n$desc")
    spark.sql("DROP TABLE graft.db.t_showc")
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns through the " +
      "engine's id-based addColumn, then merges under the evolved schema") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_mevol")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 100).toDF("id")
      .withColumn("val", col("id") * 2)).commit()
    spark.range(50, 150).toDF("id")
      .withColumn("val", col("id") * 3)
      .withColumn("note", concat(lit("n"), col("id")))
      .createOrReplaceTempView("mevol_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.db.t_mevol t
        |USING mevol_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    assert(spark.table("graft.db.t_mevol").columns.toSeq ==
      Seq("id", "val", "note"), "schema must gain the source-only column")
    val got = spark.sql("SELECT id, val, note FROM graft.db.t_mevol")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getString(2))))).toMap
    val want = ((0L until 50L).map(i => i -> ((i * 2, None))) ++
      (50L until 150L).map(i => i -> ((i * 3, Some(s"n$i"))))).toMap
    assert(got == want,
      s"diff: ${(got.toSet diff want.toSet).take(3)} / ${(want.toSet diff got.toSet).take(3)}")
  }

  test("time travel: VERSION AS OF snapshot id and TIMESTAMP AS OF") {
    val g = fresh("t_travel") // snap 1: widget, snap 2: gizmo
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_travel VERSION AS OF 1")
      .collect()(0).getLong(0) == 100L)
    val ts = SnapshotLog(g.tableDir.toString).load().mainOnly
      .snapshots.head.timestampMs
    // session zone is UTC, so the literal renders in UTC
    val lit = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(ts), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.db.t_travel TIMESTAMP AS OF '$lit'")
      .collect()(0).getLong(0) == 100L)
  }

  test("VERSION AS OF a tag; SHOW TABLES lists the warehouse") {
    val g = fresh("t_tag")
    g.tag("v1", 1L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_tag VERSION AS OF 'v1'")
      .collect()(0).getLong(0) == 100L)
    val tables = spark.sql("SHOW TABLES IN graft.db")
      .collect().map(_.getString(1)).toSet
    assert(tables.contains("t_tag"))
  }

  test("COUNT(*) answers from the manifest: no scan in the plan") {
    fresh("t_cnt") // appends only — no delete can apply
    val df = spark.sql("SELECT count(*) AS n FROM graft.db.t_cnt")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("FileScan"),
      s"metadata count must not scan:\n$plan")
    assert(df.collect()(0).getLong(0) == 200L)
    // a delete forces the exact MoR fallback — and the answer stays right
    val g2 = fresh("t_cnt2")
    g2.positionalDelete(Seq("widget"), col("product_id") < 10).commit()
    val df2 = spark.sql("SELECT count(*) AS n FROM graft.db.t_cnt2")
    assert(df2.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(df2.collect()(0).getLong(0) == 190L)
  }

  test("INSERT OVERWRITE truncates at the metadata tier and appends in one snapshot") {
    val g = fresh("t_ovw")
    val pre = SnapshotLog(g.tableDir.toString).lastSnapshotId
    spark.sql("INSERT OVERWRITE graft.db.t_ovw VALUES " +
      "(700, 'n', 'widget', 'red', DATE'2024-01-01', 1.0, 2)")
    val st = SnapshotLog(g.tableDir.toString).load().mainOnly
    assert(SnapshotLog(g.tableDir.toString).lastSnapshotId == pre + 1,
      "overwrite must be ONE snapshot")
    assert(st.snapshots.last.operation == "overwrite")
    assert(spark.sql("SELECT count(*) AS n, max(product_id) AS m " +
      "FROM graft.db.t_ovw").collect()(0).toSeq == Seq(1L, 700))
    // pre-overwrite state still time-travels
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.db.t_ovw VERSION AS OF $pre")
      .collect()(0).getLong(0) == 200L)
  }

  test("TRUNCATE TABLE: metadata-only empty; history intact") {
    val g = fresh("t_trunc")
    val pre = SnapshotLog(g.tableDir.toString).lastSnapshotId
    spark.sql("TRUNCATE TABLE graft.db.t_trunc")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_trunc")
      .collect()(0).getLong(0) == 0L)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.db.t_trunc VERSION AS OF $pre")
      .collect()(0).getLong(0) == 200L)
    // the data files are still on disk (expiry reclaims them, not truncate)
    val removed = SnapshotLog(g.tableDir.toString).load().mainOnly
      .snapshots.last.removedDataFiles
    assert(removed.nonEmpty && removed.forall(p => new java.io.File(p).exists()))
  }

  test("ALTER TABLE: add with DEFAULT, rename, drop — id-based evolution via SQL") {
    val g = fresh("t_alter")
    spark.sql("ALTER TABLE graft.db.t_alter ADD COLUMN score INT DEFAULT 7")
    // pre-existing rows read the initial default — no file rewritten
    assert(spark.sql("SELECT sum(score) AS s FROM graft.db.t_alter")
      .collect()(0).getLong(0) == 200L * 7)
    spark.sql("ALTER TABLE graft.db.t_alter RENAME COLUMN color TO hue")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_alter WHERE hue IS NOT NULL")
      .collect()(0).getLong(0) == 200L)
    spark.sql("ALTER TABLE graft.db.t_alter DROP COLUMN weight")
    assert(!spark.table("graft.db.t_alter").columns.contains("weight"))
    // post-alter INSERT carries a REAL score; defaults stay on old rows
    spark.sql("INSERT INTO graft.db.t_alter VALUES " +
      "(900, 'n', 'widget', 'red', DATE'2024-01-01', 5, 99)")
    val rows = spark.sql("SELECT product_id, score FROM graft.db.t_alter " +
      "WHERE product_id IN (0, 900)").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(rows == Map(0 -> 7, 900 -> 99))
    assert(SnapshotLog(g.tableDir.toString).load().mainOnly
      .snapshots.last.dataFiles.nonEmpty)
  }

  test("CREATE TABLE AS SELECT materializes through the catalog write path") {
    fresh("t_ctas_src")
    spark.sql("CREATE TABLE graft.db.t_ctas AS " +
      "SELECT product_id, category FROM graft.db.t_ctas_src WHERE product_id < 50")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_ctas")
      .collect()(0).getLong(0) == 50L)
    assert(SnapshotLog(s"$wh/db/t_ctas").load().mainOnly.dataFiles.nonEmpty)
    spark.sql("DROP TABLE graft.db.t_ctas")
  }

  test("CREATE TABLE + INSERT + SELECT round trip, partitioned") {
    spark.sql("CREATE TABLE graft.db.t_created " +
      "(id BIGINT, part STRING, v DOUBLE) PARTITIONED BY (part)")
    spark.sql("INSERT INTO graft.db.t_created VALUES " +
      "(1, 'a', 1.5), (2, 'b', 2.5), (3, 'a', 3.5)")
    assert(spark.sql(
      "SELECT sum(id) AS s FROM graft.db.t_created WHERE part = 'a'")
      .collect()(0).getLong(0) == 4L)
    val st = SnapshotLog(s"$wh/db/t_created").load().mainOnly
    assert(st.partitionCols == Seq("part"))
    assert(spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("t_created"))
    spark.sql("DROP TABLE graft.db.t_created")
    assert(!new java.io.File(s"$wh/db/t_created").exists())
  }

  test("SQL point lookup on a bucket-partitioned table prunes to one bucket") {
    graft.queries.CatalogFixture.ensure(spark)
    spark.sql("CREATE TABLE graft.db.t_bucket (id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO graft.db.t_bucket " +
      "SELECT id, id * 2 AS v FROM range(0, 400)")
    val total = SnapshotLog(s"$wh/db/t_bucket").load().mainOnly.dataFiles.size
    assert(total >= 4, s"expected at least one file per bucket, got $total")
    val before = MorReader.dataFilesPlanned.get()
    val n = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_bucket WHERE id = 42")
      .collect()(0).getLong(0)
    val planned = MorReader.dataFilesPlanned.get() - before
    assert(n == 1L)
    assert(planned <= total / 4,
      s"point lookup must open only id's bucket: planned $planned of $total")
    // IN-set across two buckets still prunes the other buckets
    val before2 = MorReader.dataFilesPlanned.get()
    val n2 = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_bucket WHERE id IN (42, 43, 44)")
      .collect()(0).getLong(0)
    val planned2 = MorReader.dataFilesPlanned.get() - before2
    assert(n2 == 3L)
    assert(planned2 < total,
      s"IN-set lookup must bucket-prune: planned $planned2 of $total")
    spark.sql("DROP TABLE graft.db.t_bucket")
  }

  test("DESCRIBE TABLE surfaces schema + partitioning; SHOW CREATE round-trips") {
    fresh("t_desc")
    val desc = spark.sql("DESCRIBE TABLE graft.db.t_desc").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("product_id").contains("int") &&
      desc.get("category").contains("string"), s"DESCRIBE missing columns: $desc")
    val descExt = spark.sql("DESCRIBE TABLE EXTENDED graft.db.t_desc")
      .collect().map(_.getString(0))
    assert(descExt.exists(_.contains("Part")), // partition info section
      s"DESCRIBE EXTENDED must show partitioning: ${descExt.mkString("|")}")
    val ddl = spark.sql("SHOW CREATE TABLE graft.db.t_desc")
      .collect()(0).getString(0)
    assert(ddl.contains("CREATE TABLE") && ddl.contains("product_id") &&
      ddl.contains("category"), s"SHOW CREATE TABLE incomplete:\n$ddl")
  }

  test("metadata tables by dotted name: snapshots/files/history/partitions/delete_files") {
    val g = fresh("t_meta")
    g.positionalDelete(Seq("widget"), col("product_id") < 10).commit()
    val snaps = spark.sql("SELECT snapshot_id, operation, added_rows " +
      "FROM graft.db.t_meta.snapshots ORDER BY snapshot_id").collect()
    assert(snaps.length == 3)
    assert(snaps.take(2).map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq((1L, "append", 100L), (2L, "append", 100L)))
    // COUNT(*) over a metadata table must count ITS rows (the manifest
    // fast-count guard must not fire on meta relations)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_meta.snapshots")
      .collect()(0).getLong(0) == 3L)
    val files = spark.sql(
      "SELECT record_count FROM graft.db.t_meta.files").collect()
    assert(files.length == 4 && files.map(_.getLong(0)).sum == 200L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_meta.delete_files")
      .collect()(0).getLong(0) == 1L)
    val parts = spark.sql("SELECT partition, record_count " +
      "FROM graft.db.t_meta.partitions ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(parts == Seq(("category=gizmo", 100L), ("category=widget", 100L)))
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_meta.history")
      .collect()(0).getLong(0) == 3L)
    // VERSION AS OF pins the file-level views
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_meta.files VERSION AS OF 1")
      .collect()(0).getLong(0) == 2L)
    // metadata tables are read-only
    intercept[Exception](spark.sql(
      "INSERT INTO graft.db.t_meta.snapshots VALUES (9)"))
  }

  test("metadata columns: _file, _pos, _row_id resolve through SQL") {
    fresh("t_metacols") // 4 files (2 per category), 50 rows each
    val r = spark.sql("SELECT count(DISTINCT _file) AS nf, sum(_pos) AS ps, " +
      "count(DISTINCT _row_id) AS ni FROM graft.db.t_metacols").collect()(0)
    assert(r.getLong(0) == 4L, s"4 data files expected, got ${r.getLong(0)}")
    assert(r.getLong(1) == 4L * (0L to 49L).sum, s"pos sum ${r.getLong(1)}")
    assert(r.getLong(2) == 200L, s"row ids must be unique: ${r.getLong(2)}")
    // metadata columns stay hidden from SELECT *
    assert(!spark.sql("SELECT * FROM graft.db.t_metacols").columns.contains("_file"))
  }

  test("CALL graft.system.compact folds deletes and reports file counts") {
    val g = fresh("t_proc_compact")
    g.positionalDelete(Seq("widget"), col("product_id") < 10).commit()
    val row = spark.sql(
      "CALL graft.system.compact(table => 'db.t_proc_compact')").collect()(0)
    // before: 2 widget + 2 gizmo data files + 1 delete file; after: one
    // file per partition, deletes folded
    assert(row.getLong(0) == 4L && row.getLong(1) == 1L)
    assert(row.getLong(2) == 2L && row.getLong(3) == 0L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_proc_compact")
      .collect()(0).getLong(0) == 190L)
  }

  test("CALL expire_snapshots + remove_orphan_files reclaim history") {
    val g = fresh("t_proc_expire")
    g.compact().commit() // snapshot 3: rewrite makes snapshots 1-2 disposable
    val exp = spark.sql(
      "CALL graft.system.expire_snapshots(table => 'db.t_proc_expire', " +
        "keep_last => 1)").collect()(0)
    // retained = rebased baseline + the keepLast tail
    assert(exp.getLong(0) == 3L && exp.getLong(1) == 2L)
    // expiry already deleted the stranded pre-compact files itself —
    // orphan GC finds nothing left behind
    val orphans = spark.sql(
      "CALL graft.system.remove_orphan_files(table => 'db.t_proc_expire')")
      .collect()(0).getLong(0)
    assert(orphans == 0L, s"expiry already reclaimed files, got $orphans strays")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_proc_expire")
      .collect()(0).getLong(0) == 200L)
  }

  test("CALL rollback_to_snapshot rewinds the head") {
    fresh("t_proc_rb") // snapshots 1 (widget) and 2 (gizmo)
    val row = spark.sql(
      "CALL graft.system.rollback_to_snapshot(table => 'db.t_proc_rb', " +
        "snapshot_id => 1)").collect()(0)
    assert(row.getLong(0) == 2L && row.getLong(1) == 1L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_proc_rb")
      .collect()(0).getLong(0) == 100L)
  }

  test("CALL analyze persists a stats generation") {
    fresh("t_proc_an")
    val row = spark.sql(
      "CALL graft.system.analyze(table => 'db.t_proc_an', " +
        "columns => 'product_id,category')").collect()(0)
    assert(row.getLong(0) == 200L && row.getLong(1) == 2L)
  }

  test("CALL maintain converges the table; procedures are listable") {
    val g = fresh("t_proc_maint")
    g.positionalDelete(Seq("widget"), col("product_id") < 5).commit()
    val row = spark.sql(
      "CALL graft.system.maintain(table => 'db.t_proc_maint', " +
        "min_frag_files => 2, keep_last => 1)").collect()(0)
    assert(row.getLong(1) == 0L, "maintain must leave no delete files")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_proc_maint")
      .collect()(0).getLong(0) == 195L)
    val out = spark.sql("SHOW PROCEDURES IN graft.system")
    val nameIdx = out.schema.fieldNames.indexWhere(n =>
      n == "procedure_name" || n == "name")
    val procs = out.collect().map(_.getString(nameIdx))
    assert(procs.contains("compact") && procs.contains("expire_snapshots"))
  }

  test("MIN/MAX answer from the manifest on a clean table; deletes force the scan") {
    fresh("t_mm")
    val df = spark.sql("SELECT min(product_id) AS mn, max(product_id) AS mx, " +
      "count(*) AS n, min(category) AS c0, max(category) AS c1 " +
      "FROM graft.db.t_mm")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("FileScan"),
      s"metadata min/max must not scan:\n$plan")
    assert(df.collect()(0).toSeq == Seq(0, 199, 200L, "gizmo", "widget"))
    // a live delete makes manifest bounds unsound → exact MoR fallback
    val g2 = fresh("t_mm2")
    g2.positionalDelete(Seq("gizmo"), col("product_id") >= 190).commit()
    val df2 = spark.sql(
      "SELECT min(product_id) AS mn, max(product_id) AS mx FROM graft.db.t_mm2")
    assert(df2.queryExecution.executedPlan.toString.contains("FileScan"),
      "min/max with applicable deletes must take the exact scan")
    assert(df2.collect()(0).toSeq == Seq(0, 189))
  }

  test("COUNT(*) under time travel answers from the manifest AT the pinned snapshot") {
    val g = fresh("t_tvl")
    val d1 = spark.sql("SELECT count(*) AS n FROM graft.db.t_tvl VERSION AS OF 1")
    assert(d1.queryExecution.executedPlan.toString.contains("LocalTableScan") &&
      !d1.queryExecution.executedPlan.toString.contains("FileScan"),
      "traveled COUNT on a clean snapshot must not scan")
    assert(d1.collect()(0).getLong(0) == 100L)
    // tag travel routes through the same pinned-outline fold
    g.tag("v1", 1L)
    val dt = spark.sql("SELECT count(*) AS n FROM graft.db.t_tvl VERSION AS OF 'v1'")
    assert(dt.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(dt.collect()(0).getLong(0) == 100L)
    // a delete at head must NOT poison travel to the pre-delete snapshot…
    g.positionalDelete(Seq("gizmo"), col("product_id") >= 190).commit()
    val d2 = spark.sql("SELECT count(*) AS n FROM graft.db.t_tvl VERSION AS OF 2")
    assert(d2.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "travel BEFORE the delete is still metadata-answerable")
    assert(d2.collect()(0).getLong(0) == 200L)
    // …while the head, where the delete applies, takes the exact scan
    val dh = spark.sql("SELECT count(*) AS n FROM graft.db.t_tvl")
    assert(dh.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(dh.collect()(0).getLong(0) == 190L)
    // MIN/MAX ride the same pinned-outline fold: snapshot 2 still spans
    // the full id range even though the head delete trimmed it
    val dm = spark.sql(
      "SELECT min(product_id) AS mn, max(product_id) AS mx " +
        "FROM graft.db.t_tvl VERSION AS OF 2")
    assert(dm.queryExecution.executedPlan.toString.contains("LocalTableScan") &&
      !dm.queryExecution.executedPlan.toString.contains("FileScan"),
      "traveled MIN/MAX on a clean snapshot must not scan")
    assert(dm.collect()(0).toSeq == Seq(0, 199))
  }

  test("table properties: SET/UNSET persist, survive open(), and publish no snapshot") {
    val g = fresh("t_props")
    val snaps = SnapshotLog(g.tableDir.toString).load().snapshots.size
    spark.sql("ALTER TABLE graft.db.t_props SET TBLPROPERTIES " +
      "('parquet.block.size'='1048576','quality.tier'='gold')")
    spark.sql("ALTER TABLE graft.db.t_props SET TBLPROPERTIES " +
      "('quality.tier'='silver')") // overwrite merges, latest wins
    spark.sql("ALTER TABLE graft.db.t_props UNSET TBLPROPERTIES " +
      "('parquet.block.size')")
    // Iceberg semantics: property edits are metadata versions, NOT snapshots
    assert(SnapshotLog(g.tableDir.toString).load().snapshots.size == snaps,
      "property changes must not publish snapshots")
    // SHOW reads the persisted map
    val shown = spark.sql("SHOW TBLPROPERTIES graft.db.t_props")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown == Map("quality.tier" -> "silver"))
    // a re-open()ed generator inherits them (layout knobs apply to writes)
    val g2 = new GraftTableGenerator(spark, s"$wh/db", "t_props").open()
    assert(g2.tableProperties == Map("quality.tier" -> "silver"))
    // CREATE TABLE ... TBLPROPERTIES persists too (reserved keys dropped)
    spark.sql("DROP TABLE IF EXISTS graft.db.t_props2")
    spark.sql("CREATE TABLE graft.db.t_props2 (id BIGINT) " +
      "TBLPROPERTIES ('write.note'='v1')")
    val shown2 = spark.sql("SHOW TBLPROPERTIES graft.db.t_props2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown2.get("write.note").contains("v1") && !shown2.contains("provider"))
  }

  test("CALL write_ordered: later INSERTs land sorted; band scans prune") {
    val _ = wh // force the warehouse conf before any catalog SQL
    spark.sql("DROP TABLE IF EXISTS graft.db.t_word")
    spark.sql("CREATE TABLE graft.db.t_word (id BIGINT, val BIGINT)")
    val order = spark.sql("CALL graft.system.write_ordered(" +
      "table => 'db.t_word', columns => 'id')").collect()(0).getString(0)
    assert(order == "id")
    spark.sql("INSERT INTO graft.db.t_word " +
      "SELECT (id * 173) % 400 AS id, 7 AS val FROM range(0, 400) AS t(id)")
    // the order is table metadata — an open()ed writer inherits it
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_word").open()
    assert(g.writeOrder == Seq("id"))
    // sorted ingest → disjoint per-file envelopes → a band scan plans a
    // strict subset of the files (whenever the insert produced several)
    val total = SnapshotLog(s"$wh/db/t_word").load().mainOnly.dataFiles.size
    val before = MorReader.dataFilesPlanned.get()
    val n = spark.sql(
      "SELECT count(id) AS n FROM graft.db.t_word WHERE id BETWEEN 100 AND 149")
      .collect()(0).getLong(0)
    assert(n == 50L)
    val planned = MorReader.dataFilesPlanned.get() - before
    if (total > 1)
      assert(planned < total,
        s"sorted layout must prune the band scan: planned $planned of $total")
  }

  test("GROUP BY partition column answers from the manifest; deletes and spec evolution force the scan") {
    fresh("t_gb")
    // clean table: one LocalTableScan row per partition, zero file scans
    val df = spark.sql("SELECT category, count(*) AS n, count(product_id) AS np, " +
      "min(product_id) AS mn, max(product_id) AS mx " +
      "FROM graft.db.t_gb GROUP BY category ORDER BY category")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("FileScan"),
      s"grouped metadata aggregate must not scan:\n$plan")
    assert(df.collect().map(_.toSeq).toSeq == Seq(
      Seq("gizmo", 100L, 100L, 100, 199), Seq("widget", 100L, 100L, 0, 99)))
    // DISTINCT over the partition column: same manifest answer
    val dd = spark.sql("SELECT DISTINCT category FROM graft.db.t_gb")
    assert(dd.queryExecution.executedPlan.toString.contains("LocalTableScan") &&
      !dd.queryExecution.executedPlan.toString.contains("FileScan"),
      "DISTINCT partition values must not scan")
    assert(dd.collect().map(_.getString(0)).toSet == Set("widget", "gizmo"))
    // partition-exact WHERE: single-partition count, still zero scans
    val pw = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_gb WHERE category = 'widget'")
    assert(pw.queryExecution.executedPlan.toString.contains("LocalTableScan") &&
      !pw.queryExecution.executedPlan.toString.contains("FileScan"),
      "partition-exact WHERE + COUNT must answer from the manifest")
    assert(pw.collect()(0).getLong(0) == 100L)
    // a non-partition equality is NOT file-exact — pruned scan fallback
    val nw = spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_gb WHERE product_id = 5")
    assert(nw.queryExecution.executedPlan.toString.contains("FileScan"),
      "non-partition WHERE must take the (pruned) scan")
    assert(nw.collect()(0).getLong(0) == 1L)
    // a live delete → exact MoR fallback, same answer shape
    val g2 = fresh("t_gb2")
    g2.positionalDelete(Seq("gizmo"), col("product_id") >= 190).commit()
    val df2 = spark.sql("SELECT category, count(*) AS n FROM graft.db.t_gb2 " +
      "GROUP BY category ORDER BY category")
    assert(df2.queryExecution.executedPlan.toString.contains("FileScan"),
      "grouped aggregates with applicable deletes must take the exact scan")
    assert(df2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("gizmo", 90L), ("widget", 100L)))
    // spec evolution: a file written under a non-identity spec cannot be
    // attributed to the old partition column → exact scan
    graft.queries.CatalogFixture.ensure(spark)
    spark.sql("CREATE TABLE graft.db.t_gb3 (id BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO graft.db.t_gb3 " +
      "SELECT id, CASE WHEN id < 50 THEN 'a' ELSE 'b' END, id FROM range(0, 100)")
    val pre = spark.sql("SELECT part, count(*) AS n FROM graft.db.t_gb3 " +
      "GROUP BY part ORDER BY part")
    assert(pre.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "pre-evolution grouped count must answer from the manifest")
    assert(pre.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 50L), ("b", 50L)))
    spark.sql("CALL graft.system.update_spec(table => 'db.t_gb3', " +
      "add => 'bucket(4,id)', drop => 'part')")
    spark.sql("INSERT INTO graft.db.t_gb3 " +
      "SELECT id, 'c', id FROM range(100, 120)")
    val post = spark.sql("SELECT part, count(*) AS n FROM graft.db.t_gb3 " +
      "GROUP BY part ORDER BY part")
    assert(post.queryExecution.executedPlan.toString.contains("FileScan"),
      "a bucket-spec file is not identity-attributable — must scan")
    assert(post.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 50L), ("b", 50L), ("c", 20L)))
  }

  test("UPDATE SET assignments are simultaneous (swap reads the original row)") {
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_swap")
    import org.apache.spark.sql.types._
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "a" -> LongType, "b" -> LongType), Nil)
    g.appendData(spark.range(0, 10).toDF("id")
      .withColumn("a", col("id")).withColumn("b", col("id") * 100)).commit()
    spark.sql("UPDATE graft.db.t_swap SET a = b, b = a WHERE id < 5")
    val got = spark.sql("SELECT id, a, b FROM graft.db.t_swap WHERE id < 5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == (0L until 5L).map(i => (i, i * 100, i)).toSet,
      s"SET a = b, b = a must swap against the ORIGINAL row, got $got")
    // untouched rows intact
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_swap " +
      "WHERE id >= 5 AND a = id AND b = id * 100")
      .collect()(0).getLong(0) == 5L)
  }

  test("CALL update_spec evolves the partition layout from SQL") {
    graft.queries.CatalogFixture.ensure(spark)
    spark.sql("CREATE TABLE graft.db.t_spec (id BIGINT, part STRING, v BIGINT) " +
      "PARTITIONED BY (part)")
    spark.sql("INSERT INTO graft.db.t_spec " +
      "SELECT id, CASE WHEN id < 50 THEN 'a' ELSE 'b' END, id FROM range(0, 100)")
    val row = spark.sql("CALL graft.system.update_spec(" +
      "table => 'db.t_spec', add => 'bucket(4,id)', drop => 'part')").collect()(0)
    assert(row.getInt(0) == 1 && row.getString(1) == "bucket(4,id)",
      s"got spec ${row.toSeq}")
    spark.sql("INSERT INTO graft.db.t_spec SELECT id, 'c', id FROM range(100, 200)")
    // both epochs read as one table
    assert(spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.db.t_spec")
      .collect()(0).toSeq == Seq(200L, (0L until 200L).sum))
    // the new epoch's point lookups bucket-prune
    val st = SnapshotLog(s"$wh/db/t_spec").load().mainOnly
    val epoch2 = st.dataFiles.filter(_.partition.keys.exists(_.startsWith("id_bucket")))
    assert(epoch2.nonEmpty, s"epoch-2 files must carry bucket partitions: " +
      s"${st.dataFiles.map(_.partition)}")
    spark.sql("DROP TABLE graft.db.t_spec")
  }

  test("CALL create_branch / fast_forward / drop_branch lifecycle") {
    val g = fresh("t_brl")
    val fork = spark.sql("CALL graft.system.create_branch(" +
      "table => 'db.t_brl', branch => 'ingest')").collect()(0)
    assert(fork.getString(0) == "ingest" && fork.getLong(1) == 2L)
    g.refresh().writeTo("ingest")
      .appendData(spark.range(1000, 1050).selectExpr("CAST(id AS INT) AS product_id",
        "'n' AS name", "'widget' AS category", "'red' AS color",
        "DATE'2024-01-01' AS created_date", "1.0 AS weight", "2 AS quantity"))
      .commit()
    // invisible to main until fast-forward
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_brl")
      .collect()(0).getLong(0) == 200L)
    // but readable via VERSION AS OF branch name
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_brl VERSION AS OF 'ingest'")
      .collect()(0).getLong(0) == 250L)
    spark.sql("CALL graft.system.fast_forward(table => 'db.t_brl', " +
      "branch => 'ingest')")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_brl")
      .collect()(0).getLong(0) == 250L)
    val dropped = spark.sql("CALL graft.system.drop_branch(" +
      "table => 'db.t_brl', branch => 'ingest')").collect()(0)
    assert(dropped.getString(0) == "ingest")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_brl")
      .collect()(0).getLong(0) == 250L, "fast-forwarded rows survive the drop")
  }

  test("CALL create_tag / drop_tag; cherrypick publishes an audit snapshot") {
    val g = fresh("t_wap")
    val tag = spark.sql("CALL graft.system.create_tag(" +
      "table => 'db.t_wap', tag => 'v1', snapshot_id => 1)").collect()(0)
    assert(tag.getString(0) == "v1" && tag.getLong(1) == 1L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_wap VERSION AS OF 'v1'")
      .collect()(0).getLong(0) == 100L)
    // WAP: write to an audit branch, cherry-pick onto main, drop the branch
    spark.sql("CALL graft.system.create_branch(" +
      "table => 'db.t_wap', branch => 'audit')")
    g.refresh().writeTo("audit")
      .appendData(spark.range(5000, 5020).selectExpr("CAST(id AS INT) AS product_id",
        "'n' AS name", "'gizmo' AS category", "'blue' AS color",
        "DATE'2024-01-02' AS created_date", "2.0 AS weight", "3 AS quantity"))
      .commit()
    val auditHead = SnapshotLog(g.tableDir.toString).load()
      .snapshots.filter(_.branch == "audit").last.id
    val pick = spark.sql("CALL graft.system.cherrypick_snapshot(" +
      s"table => 'db.t_wap', snapshot_id => $auditHead)").collect()(0)
    assert(pick.getLong(0) == auditHead)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_wap")
      .collect()(0).getLong(0) == 220L, "cherry-picked rows visible on main")
    spark.sql("CALL graft.system.drop_branch(" +
      "table => 'db.t_wap', branch => 'audit')")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.t_wap WHERE product_id >= 5000")
      .collect()(0).getLong(0) == 20L,
      "published files survive dropping the audit branch")
    spark.sql("CALL graft.system.drop_tag(table => 'db.t_wap', tag => 'v1')")
    val err = intercept[Exception] {
      spark.sql("SELECT count(*) AS n FROM graft.db.t_wap VERSION AS OF 'v1'")
        .collect()
    }
    assert(err.getMessage.contains("unknown ref") ||
      Option(err.getCause).exists(_.getMessage.contains("unknown ref")))
  }

  test("DELETE with IN (<subquery>) materializes a bounded set; other shapes fail loudly") {
    val g = fresh("t_subq")
    spark.range(0, 200).selectExpr("CAST(id AS INT) AS pid")
      .createOrReplaceTempView("subq_doomed")
    spark.sql("DELETE FROM graft.db.t_subq WHERE product_id IN " +
      "(SELECT pid FROM subq_doomed WHERE pid % 10 = 0)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_subq")
      .collect()(0).getLong(0) == 180L)
    assert(MorReader.read(spark, g.tableDir.toString)
      .where(col("product_id") % 10 === 0).count() == 0L)
    // the subquery may itself read a graft table
    fresh("t_subq_src")
    spark.sql("DELETE FROM graft.db.t_subq WHERE product_id IN " +
      "(SELECT product_id FROM graft.db.t_subq_src WHERE product_id < 5)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_subq")
      .collect()(0).getLong(0) == 176L) // 1..4 live (0 already gone)
    // a BARE single-column IN takes the semi-JOIN route, so the literal
    // path's MaxDmlInSetValues bound does not apply: 200k subquery values
    // execute fine (none match — count unchanged)
    spark.range(100000, 300000).selectExpr("CAST(id AS INT) AS pid")
      .createOrReplaceTempView("subq_huge")
    val preHuge = spark.sql("SELECT count(*) AS n FROM graft.db.t_subq")
      .collect()(0).getLong(0)
    spark.sql("DELETE FROM graft.db.t_subq WHERE product_id IN " +
      "(SELECT pid FROM subq_huge)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_subq")
      .collect()(0).getLong(0) == preHuge,
      "beyond-bound IN subquery must join, not materialize")
    // unsupported shapes: the GRAFT error, not a Spark internal
    // (uncorrelated scalar COMPARISONS fold as execute-once literals
    // now — their own test — so the loud case here is a MULTI-ROW
    // scalar, failing before any tombstone is staged)
    val preN = spark.sql("SELECT count(*) AS n FROM graft.db.t_subq")
      .collect()(0).getLong(0)
    val e1 = intercept[Exception] {
      spark.sql("DELETE FROM graft.db.t_subq WHERE quantity > " +
        "(SELECT pid FROM subq_doomed)")
    }
    assert(e1.getMessage.contains("more than one row") ||
      Option(e1.getCause).exists(_.getMessage.contains("more than one row")),
      s"want the graft multi-row error, got: ${e1.getMessage}")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_subq")
      .collect()(0).getLong(0) == preN, "failed DELETE must not mutate")
    // uncorrelated scalar subquery in UPDATE SET now materializes (its
    // own test covers the semantics); correlated stays the graft error
    val wantQ = spark.sql("SELECT max(pid) FROM subq_doomed")
      .collect()(0).getInt(0)
    spark.sql("UPDATE graft.db.t_subq SET quantity = " +
      "(SELECT max(pid) FROM subq_doomed) WHERE product_id = 11")
    assert(spark.sql("SELECT quantity FROM graft.db.t_subq " +
      "WHERE product_id = 11").collect().forall(_.getInt(0) == wantQ))
    // correlated-by-key aggregate now join-assigns (own test); keys the
    // subquery covers take their per-key max, others NULL
    spark.sql("UPDATE graft.db.t_subq SET quantity = (SELECT max(pid) " +
      "FROM subq_doomed s WHERE s.pid = t_subq.product_id)")
    assert(spark.sql("SELECT quantity FROM graft.db.t_subq " +
      "WHERE product_id = 12").collect().forall(_.getInt(0) == 12))
  }

  test("add_files adopts external parquet in place: stats, pruning, MoR parity") {
    import org.apache.spark.sql.types._
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_adopt")
    g.create(graft.schema.GraftSchema.of(
        "id" -> LongType, "part" -> StringType, "val" -> LongType), Seq("part"))
      .appendData(spark.range(0, 100).toDF("id")
        .withColumn("part", lit("a")).withColumn("val", col("id") * 2))
      .commit()
    // external hive-layout corpus: files physically carry the part column
    val ext = java.nio.file.Files.createTempDirectory("adopt-src").toString
    spark.range(100, 200).toDF("id").withColumn("part", lit("b"))
      .withColumn("val", col("id") * 2)
      .coalesce(1).write.parquet(s"$ext/part=b")
    spark.range(200, 300).toDF("id").withColumn("part", lit("c"))
      .withColumn("val", col("id") * 2)
      .coalesce(1).write.parquet(s"$ext/part=c")
    val res = spark.sql(s"CALL graft.system.add_files('db.t_adopt', '$ext')")
      .collect()(0)
    assert(res.getLong(0) == 2L && res.getLong(1) == 200L)
    // adopted bytes stay OUTSIDE the table dir (in-place adoption)
    val st = SnapshotLog(g.tableDir.toString).load().mainOnly
    val adopted = st.snapshots.last.dataFiles
    assert(adopted.forall(_.path.startsWith(ext)))
    // adopted entries carry real metric envelopes + honest footer counts
    assert(adopted.forall(_.recordCount == 100L))
    assert(adopted.forall(_.metrics.nonEmpty))
    // partition filter prunes to ONE adopted file; range stats prune too
    val before = MorReader.dataFilesPlanned.get()
    val s1 = spark.sql("SELECT sum(id) AS s FROM graft.db.t_adopt " +
      "WHERE part = 'c'").collect()(0).getLong(0)
    assert(s1 == (200L until 300L).sum)
    assert(MorReader.dataFilesPlanned.get() - before == 1L,
      "partition filter must plan only the adopted part=c file")
    val before2 = MorReader.dataFilesPlanned.get()
    val s2 = spark.sql("SELECT sum(val) AS s FROM graft.db.t_adopt " +
      "WHERE id >= 120 AND id <= 180").collect()(0).getLong(0)
    assert(s2 == (120L to 180L).map(_ * 2).sum)
    assert(MorReader.dataFilesPlanned.get() - before2 == 1L,
      "id-range stats must prune to the adopted part=b file")
    // MoR parity: DELETE spans native and adopted files alike
    spark.sql("DELETE FROM graft.db.t_adopt WHERE id % 10 = 7")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_adopt")
      .collect()(0).getLong(0) == 270L)
    // rejections: double adoption, missing column, hidden-transform spec
    val e1 = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('db.t_adopt', '$ext')").collect()
    }
    assert(e1.getMessage.contains("already registered"),
      s"want double-adoption error, got: ${e1.getMessage}")
    val ext2 = java.nio.file.Files.createTempDirectory("adopt-bad").toString
    spark.range(0, 10).toDF("id").withColumn("part", lit("z"))
      .write.parquet(s"$ext2/part=z") // no val column
    val e2 = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('db.t_adopt', '$ext2')").collect()
    }
    assert(e2.getMessage.contains("lacks column"),
      s"want missing-column error, got: ${e2.getMessage}")
    new GraftTableGenerator(spark, s"$wh/db", "t_adopt_bkt")
      .create(graft.schema.GraftSchema.of("id" -> LongType), Seq("bucket(4,id)"))
      .commit()
    val e3 = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('db.t_adopt_bkt', '$ext')").collect()
    }
    assert(e3.getMessage.contains("identity partition values only"),
      s"want hidden-transform error, got: ${e3.getMessage}")
  }

  test("entries/manifests/position_deletes metadata tables (incl. DV expansion)") {
    import org.apache.spark.sql.types._
    wh
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_metaintro")
    g.create(graft.schema.GraftSchema.of(
        "id" -> LongType, "val" -> LongType), Nil)
      .appendData(spark.range(0, 100).toDF("id").withColumn("val", col("id")))
      .commit()
      .vectorDeletes(true)
      .positionalDelete(col("id").isin(5L, 64L, 70L)).commit()
    // DV bitmap words expand back to exact positions, distributed
    val pos = spark.sql(
      "SELECT pos FROM graft.db.t_metaintro.position_deletes ORDER BY pos")
      .collect().map(_.getLong(0)).toSeq
    assert(pos == Seq(5L, 64L, 70L), s"DV expansion gave $pos")
    // entries ledger: snap 1 adds 1 data file, snap 2 adds 1 DV
    val entries = spark.sql(
      "SELECT snapshot_id, status, content, record_count " +
        "FROM graft.db.t_metaintro.entries ORDER BY snapshot_id, content")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(entries.toSeq == Seq((1L, "added", "data"), (2L, "added", "deletes")))
    // manifests: inline units, data rows legend = 100
    val man = spark.sql(
      "SELECT snapshot_id, content, manifest, file_count, added_rows " +
        "FROM graft.db.t_metaintro.manifests ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3), if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(man.toSeq == Seq((1L, "data", "inline", 1, 100L),
      (2L, "deletes", "inline", 1, -1L)), s"manifests gave ${man.toSeq}")
  }

  test("DELETE/UPDATE prune their matching scans like SELECT does") {
    import org.apache.spark.sql.types._
    wh
    spark.sql("DROP TABLE IF EXISTS graft.db.t_dmlprune")
    // sorted ingest: disjoint per-file envelopes, 4 files of 100 ids
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_dmlprune")
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    (0 until 4).foreach { k =>
      g.appendData(spark.range(k * 100, (k + 1) * 100).toDF("id")
        .withColumn("val", col("id") * 2)).commit()
    }
    // range DELETE on a non-boundary band: only the file holding 150..159
    // may be scanned for tombstones (the metadata-tier deleteWhere route
    // is for exact-range drops; %-predicates keep the positional path)
    val before = GraftTableGenerator.deleteScanFilesPlanned.get()
    spark.sql("DELETE FROM graft.db.t_dmlprune " +
      "WHERE id >= 150 AND id <= 159 AND id % 2 = 0")
    val planned = GraftTableGenerator.deleteScanFilesPlanned.get() - before
    assert(planned == 1L,
      s"range DELETE must scan only the covering file, planned $planned")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_dmlprune")
      .collect()(0).getLong(0) == 395L)
    // UPDATE: both the updated-row read and the tombstone scan prune
    val beforeU = GraftTableGenerator.deleteScanFilesPlanned.get()
    val beforeR = MorReader.dataFilesPlanned.get()
    spark.sql("UPDATE graft.db.t_dmlprune SET val = id * 10 " +
      "WHERE id >= 250 AND id <= 259")
    assert(GraftTableGenerator.deleteScanFilesPlanned.get() - beforeU == 1L,
      "UPDATE tombstone scan must prune to the covering file")
    assert(MorReader.dataFilesPlanned.get() - beforeR <= 2L,
      "UPDATE row read must prune to the covering file")
    val r = spark.sql("SELECT sum(val) AS s FROM graft.db.t_dmlprune " +
      "WHERE id >= 250 AND id <= 259").collect()(0).getLong(0)
    assert(r == (250L to 259L).map(_ * 10).sum)
    // hidden-transform point probe: a DELETE by key on a bucket(4) table
    // scans only the key's bucket files
    spark.sql("DROP TABLE IF EXISTS graft.db.t_dmlprune_b")
    spark.sql("CREATE TABLE graft.db.t_dmlprune_b (id BIGINT, val BIGINT) " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO graft.db.t_dmlprune_b " +
      "SELECT id, id * 2 AS val FROM range(0, 400)")
    val st = SnapshotLog(s"$wh/db/t_dmlprune_b").load().mainOnly
    val total = st.dataFiles.size
    assert(total >= 4, s"bucketed insert must spread files, got $total")
    val beforeB = GraftTableGenerator.deleteScanFilesPlanned.get()
    spark.sql("DELETE FROM graft.db.t_dmlprune_b WHERE id = 42")
    val plannedB = GraftTableGenerator.deleteScanFilesPlanned.get() - beforeB
    assert(plannedB <= total / 4,
      s"bucket point DELETE must scan one bucket: planned $plannedB of $total")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_dmlprune_b")
      .collect()(0).getLong(0) == 399L)
  }

  test("delete-maintenance procedures: pos-delete fold, eq conversion, orphan dry run") {
    import org.apache.spark.sql.types._
    wh
    spark.sql("DROP TABLE IF EXISTS graft.db.t_delmaint")
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_delmaint")
    g.create(graft.schema.GraftSchema.of(
        "id" -> LongType, "val" -> LongType), Nil)
      .appendData(spark.range(0, 200).toDF("id")
        .withColumn("val", col("id") * 2)).commit()
    spark.sql("DELETE FROM graft.db.t_delmaint WHERE id % 5 = 0")
    spark.sql("DELETE FROM graft.db.t_delmaint WHERE id % 7 = 1")
    g.refresh().upsert(spark.range(20, 40).toDF("id")
      .withColumn("val", col("id") * 3), Seq("id")).commit()
    def kinds() = SnapshotLog(s"$wh/db/t_delmaint").load().mainOnly
      .deleteFiles.groupBy(_.kind).view.mapValues(_.size).toMap
    assert(kinds().getOrElse("pos", 0) >= 2 && kinds().getOrElse("eq", 0) >= 1)
    val r1 = spark.sql("CALL graft.system.convert_equality_deletes(" +
      "table => 'db.t_delmaint')").collect()(0)
    assert(kinds().getOrElse("eq", 0) == 0, s"eq deletes must convert: ${kinds()}")
    assert(r1.getLong(1) <= r1.getLong(0))
    val r2 = spark.sql("CALL graft.system.rewrite_position_deletes(" +
      "table => 'db.t_delmaint')").collect()(0)
    assert(r2.getLong(1) < r2.getLong(0),
      s"pos tombstones must fold into vectors: $r2")
    assert(kinds().getOrElse("pos", 0) == 0, s"pos files must fold: ${kinds()}")
    // content identical through both rewrites
    val n = spark.sql("SELECT count(*) AS n, sum(val) AS s " +
      "FROM graft.db.t_delmaint").collect()(0)
    // the upsert REVIVES deleted ids in 20..39 (replace-or-insert)
    val expect = (0L until 200L)
      .filter(i => (i >= 20 && i < 40) || (i % 5 != 0 && i % 7 != 1))
      .map(i => if (i >= 20 && i < 40) i * 3 else i * 2).sum
    assert(n.getLong(1) == expect)
    // orphan dry run: stage an abandoned file, dry_run counts it without
    // deleting; the real run then removes it
    val stray = java.nio.file.Paths.get(s"$wh/db/t_delmaint/data/stray.parquet")
    spark.range(0, 5).toDF("id").withColumn("val", col("id"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$wh/db/t_delmaint/data/__tmp_stray")
    val part = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$wh/db/t_delmaint/data/__tmp_stray"))
        .iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    java.nio.file.Files.move(part, stray)
    val dry = spark.sql("CALL graft.system.remove_orphan_files(" +
      "table => 'db.t_delmaint', dry_run => true)").collect()(0).getLong(0)
    assert(dry >= 1L && java.nio.file.Files.exists(stray),
      "dry run must count orphans and delete nothing")
    spark.sql("CALL graft.system.remove_orphan_files(table => 'db.t_delmaint')")
    assert(!java.nio.file.Files.exists(stray))
  }

  test("spark.graft.wap.branch: writes stage on the branch, reads follow, publish via fast_forward") {
    import org.apache.spark.sql.types._
    wh
    spark.sql("DROP TABLE IF EXISTS graft.db.t_wapconf")
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_wapconf")
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    spark.sql("INSERT INTO graft.db.t_wapconf " +
      "SELECT id, id * 2 AS val FROM range(0, 100)")
    val key = "spark.graft.wap.branch.db.t_wapconf"
    spark.conf.set(key, "audit")
    try {
      // the branch is created on the first write; SQL is unchanged
      spark.sql("INSERT INTO graft.db.t_wapconf " +
        "SELECT id, id * 2 AS val FROM range(100, 160)")
      spark.sql("DELETE FROM graft.db.t_wapconf WHERE id < 10")
      // reads under the conf see the staged state — incl. the manifest
      // COUNT(*) fast path, which must fold the BRANCH outline
      assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_wapconf")
        .collect()(0).getLong(0) == 150L)
      assert(spark.sql("SELECT min(id) AS mn, max(id) AS mx " +
        "FROM graft.db.t_wapconf").collect()(0).getLong(1) == 159L)
    } finally spark.conf.unset(key)
    // conf off: main is untouched by the staged batch
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_wapconf")
      .collect()(0).getLong(0) == 100L)
    // publish, then main carries the audited state
    spark.sql("CALL graft.system.fast_forward(" +
      "table => 'db.t_wapconf', branch => 'audit')")
    val r = spark.sql("SELECT count(*) AS n, sum(id) AS s " +
      "FROM graft.db.t_wapconf").collect()(0)
    assert(r.getLong(0) == 150L)
    assert(r.getLong(1) == (10L until 160L).sum)
  }

  test("CALL rollback_to_timestamp truncates to the snapshot at that time") {
    import org.apache.spark.sql.types._
    wh
    spark.sql("DROP TABLE IF EXISTS graft.db.t_rbts")
    val g = new GraftTableGenerator(spark, s"$wh/db", "t_rbts")
    g.create(graft.schema.GraftSchema.of(
      "id" -> LongType, "val" -> LongType), Nil)
    g.appendData(spark.range(0, 100).toDF("id").withColumn("val", col("id")))
      .commit()
    val ts1 = SnapshotLog(s"$wh/db/t_rbts").load().snapshots.last.timestampMs
    Thread.sleep(5)
    g.appendData(spark.range(100, 150).toDF("id").withColumn("val", col("id")))
      .commit()
    val res = spark.sql("CALL graft.system.rollback_to_timestamp(" +
      s"table => 'db.t_rbts', ts_ms => ${ts1}L)").collect()(0)
    assert(res.getLong(0) == 2L && res.getLong(1) == 1L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_rbts")
      .collect()(0).getLong(0) == 100L)
    val err = intercept[Exception] {
      spark.sql("CALL graft.system.rollback_to_timestamp(" +
        "table => 'db.t_rbts', ts_ms => 0)").collect()
    }
    assert(err.getMessage.contains("no snapshot committed") ||
      Option(err.getCause).exists(_.getMessage.contains("no snapshot committed")))
  }

  test("CALL expire_snapshots(older_than_ms) expires by commit age") {
    fresh("t_expage") // two append commits
    spark.sql("DELETE FROM graft.db.t_expage WHERE product_id < 10") // third
    // age 0: every snapshot is older than "now" — rebase to baseline + the
    // one retained tail snapshot (keepLast floor of 1)
    val res = spark.sql("CALL graft.system.expire_snapshots(" +
      "table => 'db.t_expage', older_than_ms => 0)").collect()(0)
    assert(res.getLong(0) == 3L && res.getLong(1) == 2L,
      s"age-based expiry must rebase the pre-horizon history, got $res")
    // content intact through the rebase
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_expage")
      .collect()(0).getLong(0) == 190L)
  }

  test("write.bloom.columns property: point probes prune via manifest blooms") {
    wh
    spark.sql("DROP TABLE IF EXISTS graft.db.t_bloomp")
    spark.sql("CREATE TABLE graft.db.t_bloomp (id BIGINT, val BIGINT) " +
      "TBLPROPERTIES ('write.bloom.columns'='id')")
    (0 until 4).foreach { k =>
      spark.sql("INSERT INTO graft.db.t_bloomp " +
        s"SELECT id * 4 + $k AS id, (id * 4 + $k) * 7 AS val " +
        "FROM range(0, 100) AS t(id)")
    }
    // every data file entry carries a Bloom bitset for id (field id 1)
    val st = SnapshotLog(s"$wh/db/t_bloomp").load().mainOnly
    val entries = st.dataFiles
    assert(entries.nonEmpty &&
      entries.forall(_.metrics.get(1).exists(_.bloom.isDefined)),
      "catalog INSERTs must carry manifest blooms from the table property")
    // envelopes all span ~0..399, so only the bloom can prune the probe
    val before = MorReader.dataFilesPlanned.get()
    val v = spark.sql(
      "SELECT sum(val) AS s FROM graft.db.t_bloomp WHERE id = 42")
      .collect()(0).getLong(0)
    assert(v == 42L * 7)
    val planned = MorReader.dataFilesPlanned.get() - before
    assert(planned <= entries.size / 2,
      s"bloom must prune the point probe: planned $planned of ${entries.size}")
  }

  test("CALL rewrite_sorted re-clusters: band scans open a strict subset") {
    wh
    spark.sql("CREATE TABLE graft.db.t_rsort (id BIGINT, val BIGINT)")
    (0 until 4).foreach { k =>
      spark.sql("INSERT INTO graft.db.t_rsort " +
        s"SELECT (id * 173 + $k) % 400 AS id, id AS val " +
        "FROM range(0, 100) AS t(id)")
    }
    // permuted inserts: every file's envelope spans ~0..399 — a band scan
    // can prune nothing
    val before0 = MorReader.dataFilesPlanned.get()
    spark.sql("SELECT sum(val) AS s FROM graft.db.t_rsort " +
      "WHERE id BETWEEN 100 AND 149").collect()
    val plannedBefore = MorReader.dataFilesPlanned.get() - before0
    val res = spark.sql("CALL graft.system.rewrite_sorted(" +
      "table => 'db.t_rsort', columns => 'id', rows_per_file => 100)")
      .collect()(0)
    assert(res.getString(0) == "sort")
    val nFiles = res.getLong(1)
    val before1 = MorReader.dataFilesPlanned.get()
    val n = spark.sql("SELECT count(*) AS n FROM graft.db.t_rsort " +
      "WHERE id BETWEEN 100 AND 149").collect()(0).getLong(0)
    val plannedAfter = MorReader.dataFilesPlanned.get() - before1
    assert(plannedAfter < math.min(plannedBefore, nFiles),
      s"sorted layout must prune the band scan: before=$plannedBefore " +
        s"after=$plannedAfter files=$nFiles")
    // and a multi-column z-order rewrite routes through the same CALL
    val z = spark.sql("CALL graft.system.rewrite_sorted(" +
      "table => 'db.t_rsort', columns => 'id,val', rows_per_file => 100)")
      .collect()(0)
    assert(z.getString(0) == "zorder")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t_rsort " +
      "WHERE id BETWEEN 100 AND 149").collect()(0).getLong(0) == n)
  }

  test("DESCRIBE, SHOW TABLES/TBLPROPERTIES and writeTo round-trip the catalog") {
    wh
    spark.sql("DROP TABLE IF EXISTS graft.db.t_desc")
    spark.sql("CREATE TABLE graft.db.t_desc (id BIGINT, val BIGINT) " +
      "PARTITIONED BY (id) TBLPROPERTIES ('quality.tier'='gold')")
    val desc = spark.sql("DESCRIBE TABLE graft.db.t_desc").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("id").contains("bigint") && desc.get("val").contains("bigint"))
    val props = spark.sql("SHOW TBLPROPERTIES graft.db.t_desc").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("quality.tier").contains("gold"))
    assert(spark.sql("SHOW TABLES IN graft.db").collect()
      .exists(_.getString(1) == "t_desc"))
    // DataFrameWriterV2 append routes through the same catalog write path
    spark.range(0, 25).toDF("id")
      .withColumn("val", col("id") * 4)
      .writeTo("graft.db.t_desc").append()
    assert(spark.sql("SELECT count(*) AS n, sum(val) AS s FROM graft.db.t_desc")
      .collect()(0).getLong(0) == 25L)
  }

  test("snapshot procedure migrates a parquet dir to a full MoR table") {
    wh // force the warehouse conf onto the session
    val ext = java.nio.file.Files.createTempDirectory("snap-src").toString
    spark.range(0, 300).toDF("id").withColumn("val", col("id") * 7)
      .repartition(3).write.mode("overwrite").parquet(ext)
    val res = spark.sql(s"CALL graft.system.snapshot('$ext', 'db.t_snap')")
      .collect()(0)
    assert(res.getString(0) == "db.t_snap" && res.getLong(2) == 300L)
    // full SQL citizenship from the first commit
    spark.sql("DELETE FROM graft.db.t_snap WHERE id < 50")
    spark.sql("INSERT INTO graft.db.t_snap SELECT id, id * 7 AS val " +
      "FROM range(300, 350)")
    val r = spark.sql(
      "SELECT count(*) AS n, sum(val) AS s FROM graft.db.t_snap").collect()(0)
    assert(r.getLong(0) == 300L)
    assert(r.getLong(1) == (50L until 350L).map(_ * 7).sum)
    // hive-partitioned import: partition_by declares the identity spec,
    // the col=value dirs become partition tuples, pruning works at once
    val ext2 = java.nio.file.Files.createTempDirectory("snap-hive").toString
    Seq("x", "y").zipWithIndex.foreach { case (p, i) =>
      spark.range(i * 100, (i + 1) * 100).toDF("id")
        .withColumn("part", lit(p)).withColumn("val", col("id") * 3)
        .coalesce(1).write.parquet(s"$ext2/part=$p")
    }
    val res2 = spark.sql(
      s"CALL graft.system.snapshot('$ext2', 'db.t_snap_p', 'part')")
      .collect()(0)
    assert(res2.getLong(1) == 2L && res2.getLong(2) == 200L)
    val before = MorReader.dataFilesPlanned.get()
    val s2 = spark.sql("SELECT sum(id) AS s FROM graft.db.t_snap_p " +
      "WHERE part = 'y'").collect()(0).getLong(0)
    assert(s2 == (100L until 200L).sum)
    assert(MorReader.dataFilesPlanned.get() - before == 1L,
      "partition filter must prune to the adopted part=y file")
  }
}
