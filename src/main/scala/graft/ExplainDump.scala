package graft
import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for declared keys to files — the
  * optimization rounds' plan-evidence tool (plans/rNN/<key>_before/
  * after.txt). Usage:
  *   runMain graft.ExplainDump <sfDir> <outDir> <suffix> [keySubstrings]
  * e.g. runMain graft.ExplainDump /root/testdata/sf0.1 plans/r18 before louvain,hnsw
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val spark = Harness.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val keys = Harness.keys(args.lift(3))
    // An automated plan-evidence run must not look successful when
    // every key failed (ADVICE r18): count failures, exit non-zero.
    var failed = 0
    for ((name, fn) <- keys) {
      try {
        // Record the pre-checkpoint optimized plans of every ckpt'd
        // stage too — declared keys truncate at LogicalRDD, which
        // hides exactly the stages optimization rounds change.
        val rec = scala.collection.mutable.ArrayBuffer[
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
        CkptAudit.sink = rec
        val df = try fn(spark, sfDir) finally CkptAudit.sink = null
        val txt = df.queryExecution.explainString(FormattedMode)
        val stages = rec.zipWithIndex.map { case (p, i) =>
          s"=== checkpointed stage $i (optimized logical) ===\n$p" }
          .mkString("\n")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          (txt + (if (stages.nonEmpty) s"\n\n$stages" else ""))
            .getBytes("UTF-8"))
        println(s"wrote $outDir/${name}_$suffix.txt (${rec.size} stages)")
      } catch { case e: Throwable =>
        failed += 1
        println(s"FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"ExplainDump: ${keys.size - failed}/${keys.size} dumped" +
      (if (failed > 0) s", $failed FAILED" else ""))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
