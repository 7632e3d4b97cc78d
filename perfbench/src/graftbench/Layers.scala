package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.meta.SnapshotLog
import graft.read.MetaTables

/** Per-layer figures of a traced run, named after graft's modules. Per-op
  * timings are medians over the ops that made the call; counts and bytes
  * are means per op unless the name says otherwise. A layer a workload
  * never enters reads 0. */
object Layers {
  import Harness.median

  def tableStats(spark: SparkSession, tableDir: String): Map[String, Double] = {
    val meta = java.nio.file.Paths.get(tableDir, "metadata")
    val metaBytes = Harness.bytes(Seq(meta))
    val metaFiles = Harness.listing(Seq(meta)).size
    Map(
      "meta.snapshots" -> SnapshotLog(tableDir).load().snapshots.size.toDouble,
      "meta.files" -> metaFiles.toDouble,
      "meta.kb" -> metaBytes / 1e3,
      "read.live_data_files" -> MetaTables.files(spark, tableDir).count().toDouble,
      "read.live_delete_files" -> MetaTables.deleteFiles(spark, tableDir).count().toDouble)
  }

  def metrics(w: Workload, out: Harness.Outcome, probe: Probe)
      : Seq[(String, (Double, String))] = {
    val n = out.kinds.size
    val ops = 0 until n
    def byKind(k: String): Seq[Double] =
      ops.filter(out.kinds(_) == k).map(out.walls(_) * 1e3)
    def spanMedian(name: String): Double = median(Trace.msByOp(name).filter(_._1 >= 0).values.toSeq)
    def probeMedian(name: String): Double = median(Trace.spans.filter(_.name == name).map(_.ms).toSeq)
    val c = ops.map(i => probe.byOp.getOrElse(i, new OpCounters))
    val opJobs = probe.jobs.filter(j => j.op >= 0 && j.op < n).toSeq
    // curate: jobs are attributed by the innermost graft frame of their
    // call site; CuratePipeline's own checkpoint jobs before the first
    // Dedup job are the exact-dedup stage, the rest the near-dup stage
    val (exactJobs, nearJobs) = opJobs.filter(_.span.split('/').contains("ext.curate")).groupBy(_.op).values
      .foldLeft((Seq.empty[JobRec], Seq.empty[JobRec])) { case ((ex, nd), js) =>
        val sorted = js.sortBy(_.id)
        val firstDedup = sorted.indexWhere(_.site.contains("/Dedup.scala/"))
        val cut = if (firstDedup < 0) sorted.size else firstDedup
        (ex ++ sorted.take(cut), nd ++ sorted.drop(cut))
      }
    def jobsMs(js: Seq[JobRec]): Double =
      median(js.groupBy(_.op).values.map(_.map(j => (j.end - j.start).toDouble).sum).toSeq)
    val readOps = ops.filter(i => Harness.resultRows.contains(i))
    val resultRows = readOps.map(Harness.resultRows(_)).sum
    val maintOps = ops.filter(i => out.kinds(i) == "maint")
    val stats = w.layerStats()
    val self = Trace.selfMs()
    val wallMs = ops.map(out.walls(_) * 1e3)
    val m = Seq[(String, Double, String)](
      ("meta.log_load_ms", probeMedian("meta.log_load"), "ms"),
      ("meta.snapshots", stats.getOrElse("meta.snapshots", 0.0), "count"),
      ("meta.files", stats.getOrElse("meta.files", 0.0), "count"),
      ("meta.kb", stats.getOrElse("meta.kb", 0.0), "KB"),
      ("read.plan_ms", spanMedian("read.plan"), "ms"),
      ("read.exec_ms", spanMedian("read.exec"), "ms"),
      ("read.point_ms", median(byKind("point")), "ms"),
      ("read.range_ms", median(byKind("range")), "ms"),
      ("read.scan_ms", median(byKind("scan")), "ms"),
      ("read.travel_ms", median(byKind("travel")), "ms"),
      ("read.count_ms", median(byKind("count")), "ms"),
      ("read.rows_examined_per_row",
        if (resultRows == 0) 0.0 else readOps.map(c(_).inputRecords).sum.toDouble / resultRows, "ratio"),
      ("read.files_read_per_op",
        if (readOps.isEmpty) 0.0 else readOps.map(c(_).filesRead).sum.toDouble / readOps.size, "count"),
      ("read.live_data_files", stats.getOrElse("read.live_data_files", 0.0), "count"),
      ("read.live_delete_files", stats.getOrElse("read.live_delete_files", 0.0), "count"),
      ("table.stage_ms", spanMedian("table.stage"), "ms"),
      ("table.commit_ms", spanMedian("table.commit"), "ms"),
      ("table.added_mb", ops.filterNot(maintOps.contains).map(out.written(_)).sum / 1e6, "MB"),
      ("table.compact_ms", spanMedian("table.compact"), "ms"),
      ("table.rewritten_mb", maintOps.map(out.written(_)).sum / 1e6, "MB"),
      ("catalog.insert_ms", spanMedian("catalog.insert"), "ms"),
      ("catalog.delete_ms", spanMedian("catalog.delete"), "ms"),
      ("catalog.update_ms", spanMedian("catalog.update"), "ms"),
      ("catalog.merge_ms", spanMedian("catalog.merge"), "ms"),
      ("catalog.select_ms", spanMedian("catalog.select"), "ms"),
      ("plans.analysis_ms", median(c.map(_.analysisMs.toDouble)), "ms"),
      ("plans.optimization_ms", median(c.map(_.optimizationMs.toDouble)), "ms"),
      ("plans.planning_ms", median(c.map(_.planningMs.toDouble)), "ms"),
      ("spark.jobs_per_op", opJobs.size.toDouble / n, "count"),
      ("spark.tasks_per_op", c.map(_.tasks).sum.toDouble / n, "count"),
      ("spark.job_active_ms", median(c.map(_.activeMs.toDouble)), "ms"),
      ("spark.driver_residual_ms", median(ops.map { i =>
        wallMs(i) - c(i).analysisMs - c(i).optimizationMs - c(i).planningMs - c(i).activeMs
      }), "ms"),
      ("spark.executor_cpu_ms", median(c.map(_.cpuNs / 1e6)), "ms"),
      ("spark.gc_ms", median(c.map(_.gcMs.toDouble)), "ms"),
      ("spark.shuffle_write_mb", c.map(_.shuffleWrite).sum / 1e6 / n, "MB"),
      ("spark.spill_mb", c.map(_.spill).sum / 1e6 / n, "MB"),
      ("spark.input_mb", c.map(_.inputBytes).sum / 1e6 / n, "MB"),
      ("ext.exact_ms", jobsMs(exactJobs), "ms"),
      ("ext.neardup_ms", jobsMs(nearJobs), "ms"),
      ("ext.emit_ms", jobsMs(opJobs.filter(_.span.split('/').contains("ext.emit"))), "ms"),
      ("ext.cluster_rounds",
        opJobs.count(_.site.endsWith("/clusterLabels")).toDouble / n, "count"),
      ("ext.docs_kept", stats.getOrElse("ext.docs_kept", 0.0), "count"),
      ("ext.chunks_out", stats.getOrElse("ext.chunks_out", 0.0), "count"),
      ("functions.text_kernels_ms", probeMedian("functions.text_kernels"), "ms")) ++
      Seq("bench", "meta", "read", "table", "catalog", "ext", "functions").map { l =>
        (s"$l.self_ms", self.getOrElse(l, 0.0) / n, "ms")
      } ++ Seq(
      ("trace.ops_per_s", n / out.walls.sum, "1/s"),
      ("trace.op_p50_s", median(out.walls), "s"))
    m.map { case (k, v, u) => k -> (v, u) }
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  /** Spans (name, start, end, parent, op) and per-op listener counters of
    * the timed phase, one JSON object per line. */
  def writeTrace(dir: Path, w: Workload, seed: Long, out: Harness.Outcome, probe: Probe): Unit = {
    Files.createDirectories(dir)
    val name = w.getClass.getSimpleName
    val lines = Trace.spans.map { s =>
      s"""{"span": ${q(s.name)}, "id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}}"""
    } ++ probe.jobs.map { j =>
      s"""{"job": ${j.id}, "op": ${j.op}, "span": ${q(j.span)}, "site": ${q(j.site)}, """ +
        s""""start_ms": ${j.start}, "end_ms": ${j.end}}"""
    } ++ out.kinds.indices.map { i =>
      val c = probe.byOp.getOrElse(i, new OpCounters)
      s"""{"op": $i, "kind": ${q(out.kinds(i))}, "wall_s": ${out.walls(i)}, """ +
        s""""written_bytes": ${out.written(i)}, "tasks": ${c.tasks}, "cpu_ns": ${c.cpuNs}, """ +
        s""""active_ms": ${c.activeMs}, "analysis_ms": ${c.analysisMs}, """ +
        s""""optimization_ms": ${c.optimizationMs}, "planning_ms": ${c.planningMs}, """ +
        s""""files_read": ${c.filesRead}, "input_records": ${c.inputRecords}}"""
    }
    Files.writeString(dir.resolve(s"$name-seed$seed.jsonl"), lines.mkString("", "\n", "\n"))
  }
}
