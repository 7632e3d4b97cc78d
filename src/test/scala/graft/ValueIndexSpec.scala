package graft

import org.apache.spark.sql.functions._

import graft.read.{MorReader, ValueIndex}
import graft.scenarios.Scenarios
import graft.table.GraftTableGenerator

/** Posting-list value index: exact answers, real file pruning, incremental
  * refresh, delete soundness, and the expiry watermark contract. */
class ValueIndexSpec extends SparkSpec {

  import spark.implicits._

  private def fresh(tag: String): (GraftTableGenerator, String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(s"vidx_$tag").toString
    val g = new GraftTableGenerator(spark, wh, "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
      .append(Seq("widget"), graft.gen.Bundles.products(), 4, 25).commit()
      .append(Seq("gizmo"), graft.gen.Bundles.products(), 4, 25).commit()
    val idx = java.nio.file.Files.createTempDirectory(s"vidx_i_$tag").toString
    (g, g.tableDir.toString, idx)
  }

  test("point read equals the full-scan filter; posting lookup prunes files") {
    val (_, dir, idx) = fresh("pt")
    ValueIndex.build(spark, dir, "product_id", idx)
    val viaIndex = ValueIndex.readValue(spark, dir, idx, "137")
      .select("product_id", "category").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val viaScan = MorReader.read(spark, dir)
      .where(col("product_id") === 137)
      .select("product_id", "category").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(viaIndex == viaScan && viaIndex.nonEmpty)
    // 8 data files total (4 per partition); one id lives in exactly one —
    // the lookup may add bucket-collision files but must beat a full scan
    val files = ValueIndex.lookupFiles(spark, idx, "137")
    assert(files.nonEmpty && files.size < 8,
      s"lookup should prune most of the 8 files, got ${files.size}")
  }

  test("missing value: empty posting set, empty exact answer") {
    val (_, dir, idx) = fresh("miss")
    ValueIndex.build(spark, dir, "product_id", idx)
    assert(ValueIndex.readValue(spark, dir, idx, "99999").count() == 0L)
  }

  test("incremental refresh indexes appended files only") {
    val (g, dir, idx) = fresh("inc")
    ValueIndex.build(spark, dir, "product_id", idx)
    g.append(Seq("widget"), graft.gen.Bundles.products(), 2, 10).commit()
    // not yet refreshed: the new ids (200..219) are invisible to the index
    assert(ValueIndex.readValue(spark, dir, idx, "205").count() == 0L)
    ValueIndex.refresh(spark, dir, idx)
    val got = ValueIndex.readValue(spark, dir, idx, "205")
      .select("product_id").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(205))
    // old values still resolve after the refresh
    assert(ValueIndex.readValue(spark, dir, idx, "137").count() == 1L)
  }

  test("stale postings after deletes stay sound (read applies delete files)") {
    val (g, dir, idx) = fresh("del")
    ValueIndex.build(spark, dir, "product_id", idx)
    assert(ValueIndex.readValue(spark, dir, idx, "140").count() == 1L)
    g.equalityDelete(Seq("gizmo"), col("product_id") === 140,
      Seq("product_id")).commit()
    ValueIndex.refresh(spark, dir, idx) // delete snapshot: no new postings
    assert(ValueIndex.readValue(spark, dir, idx, "140").count() == 0L)
  }

  test("value index built on an empty table refreshes after the first append") {
    val wh = java.nio.file.Files.createTempDirectory("vidx_empty").toString
    val g = new GraftTableGenerator(spark, wh, "t")
    g.create(Scenarios.ProductsSchema, Seq("category"))
    val dir = g.tableDir.toString
    val idx = s"$wh/idx"
    ValueIndex.build(spark, dir, "product_id", idx) // watermark 0
    g.append(Seq("widget"), graft.gen.Bundles.products(), 1, 20).commit()
    ValueIndex.refresh(spark, dir, idx) // must accept the from==0 watermark
    val hit = ValueIndex.readValue(spark, dir, idx, "7")
    assert(hit.count() == 1 &&
      hit.select("product_id").collect()(0).getInt(0) == 7)
  }

  test("expiry crossing the watermark is refused loudly") {
    val (g, dir, idx) = fresh("exp")
    ValueIndex.build(spark, dir, "product_id", idx)
    g.append(Seq("widget"), graft.gen.Bundles.products(), 2, 10).commit()
      .append(Seq("gizmo"), graft.gen.Bundles.products(), 2, 10).commit()
    g.expireSnapshots(1) // folds history past the watermark
    val e = intercept[IllegalArgumentException](
      ValueIndex.refresh(spark, dir, idx))
    assert(e.getMessage.contains("rebuild"))
    ValueIndex.build(spark, dir, "product_id", idx) // rebuild recovers
    assert(ValueIndex.readValue(spark, dir, idx, "205").count() == 1L)
  }
}
