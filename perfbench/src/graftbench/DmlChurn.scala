package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.SnapshotLog
import graft.schema.GraftSchema
import graft.table.GraftTableGenerator

/** `dml_churn`: a seeded SQL stream through the graft catalog on a
  * TPC-H-shaped orders table (150,000 rows, partitioned by
  * `o_orderstatus`). Every statement is followed by a verifying SELECT;
  * every twelfth op runs `CALL graft.system.compact` and
  * `CALL graft.system.expire_snapshots`. The benchmark keeps its own model
  * of the table and applies each statement's meaning to it: after every
  * op the table's row count and order-independent row hash must equal the
  * model's. */
final class DmlChurn(c: Ctx) extends Workload(c) {
  private val seed = ctx.seed
  private val n0 = if (ctx.toy) 3000 else 60000
  private val custs = n0 / 4
  private val P = 1000000007L
  private val Status = Array("F", "O", "P")
  private val table = "graft.bench.orders"
  private val dirS = ctx.dir.resolve("bench").resolve("orders").toString

  private val schema = GraftSchema.of(
    "o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
    "o_totalprice" -> LongType, "o_orderdate" -> DateType, "o_orderpriority" -> StringType,
    "o_clerk" -> StringType, "o_shippriority" -> LongType, "o_comment" -> StringType)

  // ---- the model: o_orderkey -> (o_custkey, o_totalprice) --------------
  private final case class Row(cust: Long, price: Long)
  private val model = mutable.LongMap[Row]()
  private var modelHash = 0L
  private var nextKey = n0 + 1L
  private var dropped = false

  private def rowHash(k: Long, r: Row): Long =
    Math.floorMod(XXH64.hashLong(r.price, XXH64.hashLong(r.cust, XXH64.hashLong(k, 42L))), P)
  private def put(k: Long, r: Row): Unit = {
    model.get(k).foreach(o => modelHash -= rowHash(k, o))
    model(k) = r; modelHash += rowHash(k, r)
  }
  private def remove(k: Long): Unit =
    model.remove(k).foreach(o => modelHash -= rowHash(k, o))

  private def h(c: Int): Column = xxhash64(col("id"), lit(seed * 64 + c))
  private def hs(id: Long, c: Int): Long = XXH64.hashLong(seed * 64 + c, XXH64.hashLong(id, 42L))
  private def cust(id: Long): Long = Math.floorMod(hs(id, 1), custs.toLong) + 1
  private def price(id: Long): Long = Math.floorMod(hs(id, 2), 50000000L) + 100000

  def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graft.warehouse", ctx.dir.toString)
    val rows = spark.range(0, n0).select(
      (col("id") + 1).as("o_orderkey"),
      (pmod(h(1), lit(custs.toLong)) + 1).as("o_custkey"),
      element_at(array(Status.map(lit): _*), (pmod(h(3), lit(3L)) + 1).cast("int"))
        .as("o_orderstatus"),
      (pmod(h(2), lit(50000000L)) + 100000).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), pmod(h(4), lit(2400L)).cast("int"))
        .as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .map(lit): _*), (pmod(h(5), lit(5L)) + 1).cast("int")).as("o_orderpriority"),
      format_string("Clerk#%09d", pmod(h(6), lit(1000L)) + 1).as("o_clerk"),
      lit(0L).as("o_shippriority"),
      format_string("order %d comment", col("id")).as("o_comment"))
    new GraftTableGenerator(spark, ctx.dir.resolve("bench").toString, "orders", seed)
      .create(schema, Seq("o_orderstatus"))
      .appendBulk(rows, 2).commit()
    (0L until n0).foreach(id => put(id + 1, Row(cust(id), price(id))))
  }

  // deletes (point and range in turn) are the most frequent kind, so the
  // median op is a DELETE
  private val Round = Vector("delete", "update", "delete", "insert", "delete", "merge",
    "delete", "maint", "delete")
  def opCount(seconds: Int): Int = Round.size * math.max(1, math.round(seconds / 20.0).toInt)
  def warmupOps: Int = 2
  def tableDirs: Seq[java.nio.file.Path] = Seq(java.nio.file.Paths.get(dirS))
  def perturbations: Seq[String] =
    Seq("insert", "delete_point", "delete_range", "update", "merge", "maint")

  /** The statement's values: `n` fresh rows as SQL tuples, added to the
    * model unless this op kind is the one the self-test perturbs. */
  private def freshRows(r: scala.util.Random, n: Int, kind: String): Seq[String] =
    (0 until n).map { _ =>
      val k = nextKey; nextKey += 1
      val row = Row(1L + r.nextInt(custs), 100000L + r.nextInt(50000000))
      apply(kind)(put(k, row))
      s"($k, ${row.cust}, '${Status(r.nextInt(3))}', ${row.price}, DATE'1998-08-0${1 + r.nextInt(9)}', " +
        s"'5-LOW', 'Clerk#000000001', 0, 'bench insert')"
    }

  /** Applies a model change, except the first change of the perturbed
    * kind (the self-test's wrong expected answer). */
  private def apply(kind: String)(change: => Unit): Unit =
    if (ctx.perturb == kind && !dropped) dropped = true else change

  private def verify(kind: String): () => Seq[String] = {
    val got = Trace.span("catalog.select") {
      val r = spark.sql(s"SELECT count(*), sum(pmod(xxhash64(o_orderkey, o_custkey, " +
        s"o_totalprice), $P)) FROM $table").head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    () => {
      val want = (model.size.toLong, modelHash)
      if (got == want) Nil
      else Seq(s"after $kind: graft (count, hash) $got, model $want; " + diff())
    }
  }

  /** The first keys where table and model disagree (diagnosis only). */
  private def diff(): String = {
    val t = spark.sql(s"SELECT o_orderkey, o_custkey, o_totalprice FROM $table").collect()
      .map(r => r.getLong(0) -> Row(r.getLong(1), r.getLong(2))).toMap
    val keys = (t.keySet ++ model.keySet).toSeq.sorted
    keys.filter(k => t.get(k) != model.get(k)).take(5)
      .map(k => s"key $k: table ${t.get(k)}, model ${model.get(k)}").mkString("; ")
  }

  def op(i: Int, warm: Boolean): Op = {
    val kind = Round(i % Round.size) match {
      case "delete" => if (Round.take(i % Round.size).count(_ == "delete") % 2 == 0) "delete_point" else "delete_range"
      case k => k
    }
    val r = new scala.util.Random(seed * 1000003L + i)
    Op(kind, () => {
      spark.conf.set("spark.sql.catalog.graft.warehouse", ctx.dir.toString)
      kind match {
        case "insert" =>
          val vals = freshRows(r, 20, kind)
          Trace.span("catalog.insert")(spark.sql(s"INSERT INTO $table VALUES ${vals.mkString(", ")}"))
        case "delete_point" =>
          val k = 1L + r.nextInt(nextKey.toInt)
          Trace.span("catalog.delete")(spark.sql(s"DELETE FROM $table WHERE o_orderkey = $k"))
          apply(kind)(remove(k))
        case "delete_range" =>
          val lo = 1L + r.nextInt(nextKey.toInt); val hi = lo + 199
          Trace.span("catalog.delete")(
            spark.sql(s"DELETE FROM $table WHERE o_orderkey >= $lo AND o_orderkey <= $hi"))
          apply(kind)((lo to hi).foreach(remove))
        case "update" =>
          val cu = 1L + r.nextInt(custs); val d = 1 + r.nextInt(1000)
          Trace.span("catalog.update")(spark.sql(
            s"UPDATE $table SET o_totalprice = o_totalprice + $d WHERE o_custkey = $cu"))
          apply(kind)(model.filter(_._2.cust == cu).toSeq.foreach { case (k, v) =>
            put(k, v.copy(price = v.price + d))
          })
        case "merge" =>
          // ten existing keys are replaced, ten fresh keys are inserted
          val old = Seq.fill(10)(1L + r.nextInt(n0)).distinct
            .map(k => k -> Row(1L + r.nextInt(custs), 100000L + r.nextInt(50000000)))
          val fresh = freshRows(r, 10, "merge-fresh")
          val src = old.map { case (k, v) =>
            s"($k, ${v.cust}, 'O', ${v.price}, DATE'1998-08-01', '5-LOW', 'Clerk#000000001', 0, 'bench merge')"
          } ++ fresh
          Trace.span("catalog.merge") {
            spark.sql(s"SELECT * FROM VALUES ${src.mkString(", ")} AS s(o_orderkey, o_custkey, " +
              "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, o_clerk, " +
              "o_shippriority, o_comment)").createOrReplaceTempView("graftbench_merge_src")
            spark.sql(s"""MERGE INTO $table t USING graftbench_merge_src s
                         |ON t.o_orderkey = s.o_orderkey
                         |WHEN MATCHED THEN UPDATE SET *
                         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          }
          apply(kind)(old.foreach { case (k, v) => put(k, v) })
        case _ =>
          Trace.span("table.compact")(spark.sql("CALL graft.system.compact(table => 'bench.orders')"))
          Trace.span("table.expire")(spark.sql(
            "CALL graft.system.expire_snapshots(table => 'bench.orders', keep_last => 5)"))
          // maintenance keeps every row; the self-test's model loses one
          if (ctx.perturb == kind) model.headOption.foreach { case (k, _) => remove(k) }
      }
      verify(kind)
    })
  }

  override def probe(i: Int): Unit =
    if (i % 4 == 0) Trace.span("meta.log_load")(SnapshotLog(dirS).loadOutline())

  override def layerStats(): Map[String, Double] = Layers.tableStats(spark, dirS)
}
