package graft
import org.apache.spark.scheduler._

/** Per-key job/stage census — optimization-round measurement tooling
  * (guide §1: the UI is unavailable headless, so a SparkListener
  * stands in for the Jobs/Stages tabs). For each selected key, runs
  * the query once UNTIMED (memo/codegen warm-up), then once timed
  * with a listener attached, and prints per-job wall-clock, stage and
  * task counts — the fixed-job-count latency profile that dominates
  * this board (VERDICT r18 "What's wrong" #1).
  *
  * Usage: runMain graft.JobProfile <sfDir> [keySubstrings] [runs]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = Harness.session()
    TestData.enableCache()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(t => try TestData.table(spark, sfDir, t).count()
               catch { case _: Throwable => () })
    try TestData.events(spark, sfDir).count() catch { case _: Throwable => () }
    // streaming progress phases (durationMs) — the stand-in for the
    // Structured Streaming UI when profiling the stream_* keys
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          println(s"  [stream ${p.name} batch ${p.batchId}] rows=${p.numInputRows} " +
            s"durationMs=${p.durationMs}")
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })
    val keys = Harness.keys(args.lift(1)).sortBy(_._1)
    for ((name, fn) <- keys) {
      // warm-up run (memoized stages, codegen, broadcast relations)
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"FAILED $name (warmup): ${e.getClass.getSimpleName}"); }
      for (r <- 1 to runs) {
        case class Job(id: Int, start: Long, var end: Long = -1,
                       var stages: Int = 0, var tasks: Int = 0,
                       var names: List[String] = Nil)
        val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
        val stageJob = scala.collection.mutable.HashMap[Int, Int]()
        val listener = new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit =
            jobs.synchronized {
              jobs(j.jobId) = Job(j.jobId, j.time)
              j.stageIds.foreach(sid => stageJob(sid) = j.jobId)
            }
          override def onJobEnd(j: SparkListenerJobEnd): Unit =
            jobs.synchronized {
              jobs.get(j.jobId).foreach(_.end = j.time) }
          override def onStageCompleted(
              s: SparkListenerStageCompleted): Unit = jobs.synchronized {
            stageJob.get(s.stageInfo.stageId).foreach { jid =>
              jobs.get(jid).foreach { jb =>
                jb.stages += 1
                jb.tasks += s.stageInfo.numTasks
                jb.names ::= s.stageInfo.name.take(60) } } }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case e: Throwable =>
          println(s"FAILED $name: ${e.getClass.getSimpleName}") }
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        val js = jobs.values.toSeq.sortBy(_.id)
        val span = js.map(j => (if (j.end > 0) j.end else j.start) - j.start)
        println(f"== $name run$r: ${dt}%.3f s, ${js.size} jobs, " +
          f"${js.map(_.stages).sum} stages, ${js.map(_.tasks).sum} tasks, " +
          f"sum-job-ms ${span.sum}")
        if (r == runs)
          js.foreach { j =>
            val ms = (if (j.end > 0) j.end else j.start) - j.start
            println(f"  job ${j.id}%4d ${ms}%6d ms  stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.names.headOption.getOrElse("")}") }
      }
    }
    spark.stop()
  }
}
