import org.apache.spark.sql.DataFrame

/** Package-level helpers — consumers `import graft.CkptOps`. */
package object graft {

  /** Checkpoint interceptor (PlanSpec's window-audit hook — VERDICT
    * r15 "what's wrong" #1): `df.ckpt()` behaves exactly like
    * `df.localCheckpoint()`, but when the audit enables recording it
    * first captures the PRE-checkpoint optimized logical plan, so
    * windows INSIDE checkpointed stages stay visible to the
    * mechanical unpartitioned-window sweep (localCheckpoint truncates
    * lineage, which was the sweep's one blind spot). Recording off —
    * the production state — costs one null check.
    */
  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def ckpt(): DataFrame = {
      val rec = CkptAudit.sink
      if (rec ne null) rec.synchronized {
        rec += df.queryExecution.optimizedPlan
      }
      // eager=false (r18 optimization): an eager localCheckpoint costs
      // one dedicated Spark job per site (232 sites — the fixed-cost
      // floor of every iterative key). A LAZY local checkpoint still
      // truncates the Catalyst plan immediately (LogicalRDD) and still
      // persists each partition the first time it is computed — the
      // materialization simply rides the first CONSUMING job instead
      // of a job of its own, and LocalRDDCheckpointData completes any
      // missing partitions at that job's end. Values are identical;
      // multi-consumer reuse is identical after the first action.
      // Both claims need every checkpointed stage to be deterministic:
      // a partition not yet persisted is computed from the lineage when
      // a consumer first needs it, so a nondeterministic stage could
      // hand its consumers different rows.
      df.localCheckpoint(eager = false)
    }
  }
}
