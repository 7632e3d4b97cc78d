package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Self-test of the benchmark's checks: every workload passes them at toy
  * size, and each check reports a problem once its expected answer is
  * perturbed (one delete dropped from the model, one row too many in an
  * expected count, one planted doc expected on the wrong side, ...). */
object SelfTest {
  private val RoundOps = Map("mor_read" -> 12, "dml_churn" -> 9, "curate" -> 2)

  /** With `perturbed = false` only the unperturbed pass runs: one toy
    * round of every workload, which is also how the build trains the JVM's
    * class-data archive. */
  def run(spark: SparkSession, work: Path, perturbed: Boolean): Int = {
    val results = for {
      (name, mk) <- Workloads.all.toSeq.sortBy(_._1)
      perturb <- "" +: (if (perturbed) mk(Ctx(spark, 1L, work, toy = true)).perturbations else Nil)
    } yield {
      val dir = Harness.fresh(work.resolve(s"selftest-$name"))
      val w = mk(Ctx(spark, 1L, dir, toy = true, perturb = perturb))
      w.setup()
      val out = Harness.runOps(w, 0, RoundOps(name), spark, trace = false)
      val problems = out.problems ++ w.finalChecks()
      Harness.deleteTree(dir)
      val ok = if (perturb.isEmpty) problems.isEmpty else problems.nonEmpty
      val what = if (perturb.isEmpty) "checks pass" else s"perturbed '$perturb' is caught"
      println(s"${if (ok) "PASS" else "FAIL"} $name: $what" +
        problems.headOption.fold("")(p => s" ($p)"))
      ok
    }
    println(s"selftest: ${results.count(identity)}/${results.size} passed")
    if (results.forall(identity)) 0 else 1
  }
}
