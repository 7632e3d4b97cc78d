package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload instance needs: the session, the run's seed, its
  * own directory, and whether it runs at toy size with one of its checks'
  * expected answers perturbed (the self-test). */
final case class Ctx(spark: SparkSession, seed: Long, dir: Path,
                     toy: Boolean = false, perturb: String = "")

/** One op of a workload's fixed sequence: `run` does the timed work and
  * hands back the untimed check, which returns the problems it found. */
final case class Op(kind: String, run: () => (() => Seq[String]))

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Build the starting tables and inputs (timed as set-up). */
  def setup(): Unit
  /** Length of the fixed op sequence for a run of `seconds`. */
  def opCount(seconds: Int): Int
  def warmupOps: Int
  /** The i-th op of the seeded sequence; `warm` marks an untimed warm-up
    * op, which a workload may run on a slice of its input. */
  def op(i: Int, warm: Boolean = false): Op
  /** Tables whose bytes count as written / stored. */
  def tableDirs: Seq[Path]
  /** Checks over the whole run, made after the last op. */
  def finalChecks(): Seq[String] = Nil
  /** Traced runs only: sampled standalone probes (not inside any op). */
  def probe(i: Int): Unit = ()
  /** Traced runs only: end-of-run layer figures. */
  def layerStats(): Map[String, Double] = Map.empty
  /** Perturbations the self-test applies to this workload's checks. */
  def perturbations: Seq[String]
}

object Workloads {
  val all: Map[String, Ctx => Workload] = Map(
    "mor_read" -> (c => new MorRead(c)),
    "dml_churn" -> (c => new DmlChurn(c)),
    "curate" -> (c => new Curate(c)))
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, work: String = ".bench_build/work",
                        selftest: Boolean = false, train: Boolean = false)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--selftest" :: t => parse(t, acc.copy(selftest = true))
    case "--train" :: t => parse(t, acc.copy(train = true))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def session(work: Path): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("catalog").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val work = Paths.get(args.work).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    Harness.log(s"session ready, JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val code =
      try {
        if (args.selftest) SelfTest.run(spark, work, perturbed = true)
        else if (args.train) SelfTest.run(spark, work, perturbed = false)
        else {
          val mk = Workloads.all.getOrElse(args.workload,
            throw new IllegalArgumentException(s"unknown workload '${args.workload}'"))
          println(Harness.run(spark, work, mk, args.seed, args.seconds, args.trace))
          0
        }
      } finally spark.stop()
    sys.exit(code)
  }
}

object Harness {
  val SetupReps = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def listing(dirs: Seq[Path]): Map[String, (Long, Long)] =
    dirs.filter(Files.exists(_)).flatMap { d =>
      val st = Files.walk(d)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toList
      finally st.close()
    }.toMap

  def fresh(dir: Path): Path = { deleteTree(dir); Files.createDirectories(dir) }

  def bytes(dirs: Seq[Path]): Long = listing(dirs).values.map(_._1).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally st.close()
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  /** Result rows of the current op, reported by the workload's reads
    * (the base of `read.rows_examined_per_row`). */
  val resultRows = mutable.Map[Int, Long]().withDefaultValue(0L)
  def rowsOut(n: Long): Unit = resultRows(Trace.op) += n

  final case class Outcome(kinds: IndexedSeq[String], walls: IndexedSeq[Double],
                           written: IndexedSeq[Long], problems: Seq[String], failed: Int)

  /** Runs ops [from, until) of `w`, timing each and checking its output. */
  def runOps(w: Workload, from: Int, until: Int, spark: SparkSession,
             trace: Boolean, warm: Boolean = false): Outcome = {
    val kinds = mutable.ArrayBuffer[String]()
    val walls = mutable.ArrayBuffer[Double]()
    val written = mutable.ArrayBuffer[Long]()
    val problems = mutable.ArrayBuffer[String]()
    var failed = 0
    for (i <- from until until) {
      val op = w.op(i, warm)
      val before = listing(w.tableDirs)
      Trace.op = i
      val t0 = System.nanoTime()
      val res = scala.util.Try(Trace.span(s"bench.${op.kind}")(op.run()))
      val wall = (System.nanoTime() - t0) / 1e9
      if (trace) org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)
      Trace.op = -1
      val errs = res match {
        case scala.util.Success(check) =>
          scala.util.Try(check()).fold(e => Seq(s"check threw $e"), identity)
        case scala.util.Failure(e) => Seq(s"threw $e")
      }
      if (errs.nonEmpty) {
        failed += 1
        problems ++= errs.take(3).map(e => s"op $i (${op.kind}): $e")
      }
      val after = listing(w.tableDirs)
      written += after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum
      kinds += op.kind
      walls += wall
      if (trace) w.probe(i)
    }
    Outcome(kinds.toIndexedSeq, walls.toIndexedSeq, written.toIndexedSeq,
      problems.toSeq, failed)
  }

  def run(spark: SparkSession, work: Path, mk: Ctx => Workload, seed: Long,
          seconds: Int, trace: Boolean): String = {
    val probe = if (trace) { Trace.enable(spark); Some(Probe.install(spark)) } else None
    // set-up runs SetupReps times into separate directories, the first
    // in a cold JVM as a user meets it; the first copy then takes the
    // untimed warm-up ops and the last copy the timed ops
    val copies = (0 until SetupReps).map { r =>
      val w = mk(Ctx(spark, seed, fresh(work.resolve(s"copy$r"))))
      val t0 = System.nanoTime()
      w.setup()
      val t = (System.nanoTime() - t0) / 1e9
      log(f"set-up $r: $t%.2f s")
      (w, t)
    }
    val warm = runOps(copies.head._1, 0, copies.head._1.warmupOps, spark, trace = false,
      warm = true)
    copies.init.foreach(c => deleteTree(c._1.ctx.dir))
    log("warm-up done")
    val w = copies.last._1
    val n = w.opCount(seconds)
    probe.foreach { p =>
      org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)
      Trace.spans.clear(); p.reset()
    }
    resultRows.clear()
    val out = runOps(w, 0, n, spark, trace)
    val problems = warm.problems ++ out.problems ++ w.finalChecks()
    problems.take(20).foreach(p => System.err.println(s"[graftbench] WRONG: $p"))

    val opsWall = out.walls.sum
    val tableBytes = bytes(w.tableDirs)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!trace) {
      // Spark frees some driver state only after a GC has cleared weak
      // references, so collect five times and keep the smallest reading
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      val live = (1 to 5).map { _ => System.gc(); Thread.sleep(100); heap.getHeapMemoryUsage.getUsed }.min
      metrics("setup_s") = (median(copies.map(_._2)), "s")
      metrics("ops_per_s") = (n / opsWall, "1/s")
      metrics("op_p50_s") = (median(out.walls), "s")
      metrics("written_mb") = (out.written.sum / 1e6, "MB")
      metrics("table_mb") = (tableBytes / 1e6, "MB")
      metrics("heap_live_mb") = (live / 1e6, "MB")
    } else {
      Layers.metrics(w, out, probe.get).foreach { case (k, v) => metrics(k) = v }
      Layers.writeTrace(work.getParent.resolve("traces"), w, seed, out, probe.get)
    }
    val kindsNote = out.kinds.indices.groupBy(out.kinds(_)).map { case (k, is) =>
      f"$k=${is.size}x${median(is.map(out.walls(_)))}%.3fs"
    }
    System.err.println(s"[graftbench] ops: ${kindsNote.toSeq.sorted.mkString(" ")}; " +
      f"wall ${opsWall}%.2f s; set-up ${copies.map(_._2).map(t => f"$t%.2f").mkString(" ")} s")
    log("op walls: " + out.kinds.indices.map(i => f"${out.kinds(i)} ${out.walls(i)}%.3f").mkString(", "))
    deleteTree(w.ctx.dir)
    log("done")
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${problems.isEmpty}, "attempted": $n, "failed": ${out.failed}, "metrics": {$ms}}"""
  }
}
