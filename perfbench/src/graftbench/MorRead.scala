package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.SnapshotLog
import graft.read.MorReader
import graft.schema.GraftSchema
import graft.table.GraftTableGenerator

/** Seeded TPC-H-shaped lineitem rows. Every value is a pure function of
  * (seed, row id): Spark computes the table from `xxhash64(id, salt)`, and
  * the benchmark's own model recomputes the columns its predicates read
  * with the same hash in plain Scala — the expected answers never pass
  * through graft. */
object Lineitem {
  val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REGAIR", "SHIP", "TRUCK")
  val Flags = Array("A", "N", "R")
  val P = 1000000007L

  val schema: GraftSchema = GraftSchema.of(
    "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
    "l_linenumber" -> LongType, "l_quantity" -> LongType,
    "l_extendedprice" -> LongType, "l_discount" -> LongType, "l_tax" -> LongType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> DateType, "l_commitdate" -> DateType, "l_receiptdate" -> DateType,
    "l_shipinstruct" -> StringType, "l_shipmode" -> StringType, "l_comment" -> StringType)

  def hx(seed: Long, id: Long, c: Int): Long = XXH64.hashLong(seed * 64 + c, XXH64.hashLong(id, 42L))
  def okey(id: Long): Long = id / 4 + 1
  def lnum(id: Long): Long = id % 4 + 1
  def qty(seed: Long, id: Long): Int = (Math.floorMod(hx(seed, id, 3), 50L) + 1).toInt
  def flag(seed: Long, id: Long): Int = Math.floorMod(hx(seed, id, 7), 3L).toInt
  /** Order-independent row hash: the benchmark's checksum of a row set. */
  def rowHash(okey: Long, lnum: Long): Long =
    Math.floorMod(XXH64.hashLong(lnum, XXH64.hashLong(okey, 42L)), P)
  def rowHashCol: Column = pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(P))

  def rows(spark: org.apache.spark.sql.SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    def h(c: Int): Column = xxhash64(col("id"), lit(seed * 64 + c))
    def pick(c: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(c), lit(xs.size.toLong)) + 1).cast("int"))
    val words = Seq("quick", "final", "ironic", "pending", "bold", "regular", "express",
      "silent", "careful", "even", "special", "furious", "blithe", "daring", "unusual", "idle")
    spark.range(from, until).select(
      expr("id div 4 + 1").as("l_orderkey"),
      (pmod(h(1), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(2), lit(1000L)) + 1).as("l_suppkey"),
      expr("id % 4 + 1").as("l_linenumber"),
      (pmod(h(3), lit(50L)) + 1).as("l_quantity"),
      ((pmod(h(3), lit(50L)) + 1) * (pmod(h(4), lit(10000L)) + 90000)).as("l_extendedprice"),
      pmod(h(5), lit(11L)).as("l_discount"),
      pmod(h(6), lit(9L)).as("l_tax"),
      pick(7, Flags.toSeq).as("l_returnflag"),
      pick(8, Seq("O", "F")).as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("1992-01-02")), pmod(h(9), lit(2526L)).cast("int"))
        .as("l_shipdate"),
      date_add(lit(java.sql.Date.valueOf("1992-01-02")),
        (pmod(h(9), lit(2526L)) + pmod(h(10), lit(60L)) - 30).cast("int")).as("l_commitdate"),
      date_add(lit(java.sql.Date.valueOf("1992-01-02")),
        (pmod(h(9), lit(2526L)) + pmod(h(11), lit(30L)) + 1).cast("int")).as("l_receiptdate"),
      pick(12, Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"))
        .as("l_shipinstruct"),
      pick(13, Modes.toSeq).as("l_shipmode"),
      concat_ws(" ", pick(14, words), pick(15, words), pick(16, words), pick(17, words))
        .as("l_comment"))
  }
}

/** `mor_read`: read-mostly traffic through the Scala API on a partitioned
  * lineitem table (Bloom filter on `l_orderkey`) whose history mixes
  * positional deletes, equality deletes, deletion vectors and appends.
  * One round of twelve ops: seven point reads, one metadata count, one
  * range read, one full scan, one time-travel read and one small commit. */
final class MorRead(c: Ctx) extends Workload(c) {
  import Lineitem._
  private val seed = ctx.seed
  private val n0 = if (ctx.toy) 8000 else 120000
  private val history = 4
  private val appendRows = if (ctx.toy) 40 else 400
  private val rnd = new scala.util.Random(seed * 31 + 7)
  private val dirS = ctx.dir.resolve("lineitem").toString
  private lazy val gen = new GraftTableGenerator(spark, ctx.dir.toString, "lineitem", seed)

  // ---- the model: per row id, when it was born and when it died --------
  private val cap = n0 + (history + 200) * appendRows
  private val qtyA = new Array[Byte](cap)
  private val flagA = new Array[Byte](cap)
  private val born = new Array[Int](cap)
  private val dead = Array.fill(cap)(Int.MaxValue)
  private val hashA = new Array[Long](cap)
  private var nRows = 0
  private var snap = 0 // model snapshot index = commits so far
  private val sids = mutable.ArrayBuffer[Long](0L) // graft snapshot id per index
  private var commits = 0
  private var droppedDelete = false

  private def addRows(k: Int): Unit = {
    var id = nRows
    while (id < nRows + k) {
      qtyA(id) = qty(seed, id).toByte; flagA(id) = flag(seed, id).toByte
      born(id) = snap + 1; hashA(id) = rowHash(okey(id), lnum(id)); id += 1
    }
    nRows += k
  }

  private def kill(p: Int => Boolean): Unit = {
    if (ctx.perturb == "drop_delete" && !droppedDelete) { droppedDelete = true; return }
    var id = 0
    while (id < nRows) {
      if (born(id) <= snap && dead(id) == Int.MaxValue && p(id)) dead(id) = snap + 1
      id += 1
    }
  }

  private def alive(id: Int, at: Int): Boolean = born(id) <= at && dead(id) > at

  /** (count, hash sum) of the live rows at model snapshot `at` whose id
    * satisfies `p`. */
  private def expect(at: Int, p: Int => Boolean): (Long, Long) = {
    var n = 0L; var h = 0L; var id = 0
    while (id < nRows) {
      if (alive(id, at) && p(id)) { n += 1; h += hashA(id) }
      id += 1
    }
    (n, h)
  }

  private def committed(): Unit = {
    snap += 1
    sids += SnapshotLog(dirS).lastSnapshotId
  }

  /** One commit of the rotating kind: append, positional delete, equality
    * delete, deletion vector. */
  private def commitStep(k: Int): Unit = k % 4 match {
    case 0 =>
      val from = nRows
      Trace.span("table.stage")(gen.appendBulk(rows(spark, seed, from, from + appendRows), 1))
      Trace.span("table.commit")(gen.commit())
      addRows(appendRows); committed()
    case 1 =>
      val f = rnd.nextInt(3); val q = 1 + rnd.nextInt(50)
      Trace.span("table.stage")(gen.positionalDelete(Seq(Flags(f)),
        col("l_returnflag") === Flags(f) && col("l_quantity") === q))
      Trace.span("table.commit")(gen.commit())
      kill(id => flagA(id) == f && qtyA(id) == q); committed()
    case 2 =>
      val keys = Seq.fill(40)(1L + rnd.nextInt(nRows / 4))
      Trace.span("table.stage")(gen.equalityDelete(col("l_orderkey").isin(keys: _*),
        Seq("l_orderkey")))
      Trace.span("table.commit")(gen.commit())
      val ks = keys.toSet
      kill(id => ks(okey(id))); committed()
    case _ =>
      val f = rnd.nextInt(3); val r = rnd.nextInt(97)
      Trace.span("table.stage") {
        gen.vectorDeletes(true)
        gen.positionalDelete(Seq(Flags(f)),
          col("l_returnflag") === Flags(f) && col("l_orderkey") % 97 === r)
        gen.vectorDeletes(false)
      }
      Trace.span("table.commit")(gen.commit())
      kill(id => flagA(id) == f && okey(id) % 97 == r); committed()
  }

  def setup(): Unit = {
    gen.create(schema, Seq("l_returnflag")).withBloomFilters("l_orderkey")
    gen.appendBulk(rows(spark, seed, 0, n0), 2).commit()
    addRows(n0); committed()
    (1 to history).foreach(commitStep)
    commits = history + 1
  }

  private val Round = Vector("point", "count", "point", "range", "point", "scan",
    "point", "travel", "point", "commit", "point", "point")
  def opCount(seconds: Int): Int = Round.size * math.max(1, math.round(seconds / 10.0).toInt)
  def warmupOps: Int = Round.size
  def tableDirs: Seq[java.nio.file.Path] = Seq(ctx.dir.resolve("lineitem"))
  def perturbations: Seq[String] =
    Seq("drop_delete", "point", "range", "scan", "travel", "count")

  private def bump(kind: String): Long = if (ctx.perturb == kind) 1L else 0L

  /** Noop-sink execution of a read, observing its row count and hash. */
  private def observed(df: DataFrame): (Long, Long) = {
    val ob = Observation()
    Trace.span("read.exec") {
      df.observe(ob, count(lit(1)).as("n"), sum(rowHashCol).as("h"))
        .write.format("noop").mode("overwrite").save()
    }
    val m = ob.get
    val n = m("n").asInstanceOf[Long]
    Harness.rowsOut(n)
    (n, Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  private def compare(what: String, got: (Long, Long), want: (Long, Long)): Seq[String] =
    if (got == want) Nil else Seq(s"$what: graft (count, hash) $got, expected $want")

  def op(i: Int, warm: Boolean): Op = {
    val kind = Round(i % Round.size)
    // parameters come from the op index and the seed only
    val r = new scala.util.Random(seed * 1000003L + i)
    kind match {
      case "point" => Op(kind, () => {
        val k = 1L + r.nextInt(nRows / 4)
        val df = Trace.span("read.plan")(MorReader.readValues(spark, dirS, "l_orderkey", Seq(k.toString)))
        val got = Trace.span("read.exec")(df.select("l_orderkey", "l_linenumber", "l_quantity")
          .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toSeq)
        Harness.rowsOut(got.size)
        () => {
          val ids = ((k - 1) * 4 until k * 4).map(_.toInt).filter(id => id < nRows && alive(id, snap))
          val want = ids.map(id => (okey(id), lnum(id), qtyA(id).toLong)) ++
            (if (ctx.perturb == "point") Seq((k, 9L, 0L)) else Nil)
          if (got == want.sorted) Nil else Seq(s"point l_orderkey=$k: graft $got, expected $want")
        }
      })
      case "range" => Op(kind, () => {
        val lo = 1L + r.nextInt(nRows / 4); val hi = lo + 499
        val df = Trace.span("read.plan")(MorReader.readRange(spark, dirS,
          Map("l_orderkey" -> MorReader.ColRange(Some(lo.toString), Some(hi.toString)))))
        val got = observed(df)
        () => {
          val (n, h) = expect(snap, id => okey(id) >= lo && okey(id) <= hi)
          compare(s"range [$lo, $hi]", got, (n + bump("range"), h))
        }
      })
      case "scan" => Op(kind, () => {
        val got = observed(Trace.span("read.plan")(MorReader.read(spark, dirS)))
        () => {
          val (n, h) = expect(snap, _ => true)
          compare("full scan", got, (n + bump("scan"), h))
        }
      })
      case "travel" => Op(kind, () => {
        val at = 1 + r.nextInt(snap - 1)
        val got = observed(Trace.span("read.plan")(MorReader.readAt(spark, dirS, sids(at))))
        () => {
          val (n, h) = expect(at, _ => true)
          compare(s"time travel to snapshot ${sids(at)}", got, (n + bump("travel"), h))
        }
      })
      case "count" => Op(kind, () => {
        val (n, _) = Trace.span("read.count")(MorReader.fastCount(spark, dirS))
        () => {
          val want = expect(snap, _ => true)._1 + bump("count")
          if (n == want) Nil else Seq(s"fastCount $n, scan of the model $want")
        }
      })
      case _ => Op(kind, () => {
        commitStep(commits); commits += 1
        () => Nil // the commit's effect is checked by every later read
      })
    }
  }

  override def probe(i: Int): Unit =
    if (i % 5 == 0) Trace.span("meta.log_load")(SnapshotLog(dirS).loadOutline())

  override def layerStats(): Map[String, Double] = Layers.tableStats(spark, dirS)
}
