package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of an iteration. `iter` is shared by every span of
  * one iteration; `parent` is -1 for the iteration's root span. Times
  * are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, iter: String,
                      start: Long, var end: Long = -1L) {
  def dur: Long = end - start
}

/** Task metrics summed over the tasks of one job. */
final class TaskSums {
  var tasks = 0L; var cpuNs = 0L; var runMs = 0L
  var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
  var inBytes = 0L; var outBytes = 0L
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long,
                        stages: Int, sums: TaskSums)

/** Rows of one executed plan, rolled up by plan layer, and the rows
  * into and out of its top-most filter. */
final case class PlanRec(at: Long, rows: Map[String, Long], topFilter: Option[(Long, Long)])

final case class ProgressRec(at: Long, triggerMs: Long, addBatchMs: Long, rows: Long)

/** Records spans and Spark's own events for the traced run.
  *
  * Spans come from the benchmark: `span(name)` wraps a facade call or a
  * key and sets the Spark job group to `<workload>/<iter>/<name>`, so
  * each job names the span that caused it. The listeners (a
  * SparkListener, a QueryExecutionListener and a StreamingQueryListener)
  * only append raw records; everything is attributed to spans after the
  * fact in [[Rollup]]. Spark delivers listener events asynchronously, so
  * every span end drains the listener bus; that wait is part of the
  * tracing overhead the traced run reports.
  *
  * When `enabled` is false no listener is attached and `span` only sets
  * the job group: this is the untraced path the end-to-end metrics use.
  */
final class Tracer(spark: SparkSession, workload: String) {
  private val sc = spark.sparkContext
  /** `nanoTime - currentTimeMillis * 1e6`: maps listener event times
    * (epoch ms) onto the span clock. */
  private val clockOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val progress = mutable.ArrayBuffer.empty[ProgressRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val lock = new Object
  private var stack = List.empty[Span]
  private var iter = ""
  @volatile private var enabled = false

  private def epochMsToNano(ms: Long): Long = ms * 1000000L + clockOffset

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = JobRec(e.jobId, group, epochMsToNano(e.time), -1L, e.stageInfos.size, new TaskSums)
      jobs += j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = epochMsToNano(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).foreach { j =>
        val s = j.sums
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.executedPlan
      val rec = PlanRec(System.nanoTime(), PlanLayers.rows(p), PlanLayers.topFilter(p))
      lock.synchronized { plans += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        lock.synchronized {
          progress += ProgressRec(System.nanoTime(), ms("triggerExecution"), ms("addBatch"),
            p.numInputRows)
        }
      }
    }
  }

  def attach(): Unit = if (!enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  def detach(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    enabled = false
  }

  /** Wait until Spark has delivered every queued listener event.
    * `LiveListenerBus.waitUntilEmpty` is Spark-internal, so it is reached
    * by reflection. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Starts a new iteration; its spans share the id `<workload>/<n>`. */
  def beginIteration(n: Int): Unit = { iter = s"$workload/$n"; stack = Nil }

  /** Runs `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val group = s"$iter/$name"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val s = Span(spans.size, name, parent, iter, System.nanoTime())
    if (enabled) lock.synchronized { spans += s }
    stack = s :: stack
    try body
    finally {
      if (enabled) drain()
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$iter/${p.name}", s"$iter/${p.name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Writes every traced span to `path` as a JSON list; times are ms
    * since the first span started. */
  def writeSpans(path: String): Unit = lock.synchronized {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    Json.write(path, spans.map(s => Map("id" -> s.id, "iter" -> s.iter, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6)))
  }

  /** Snapshot of the records of one iteration, for [[Rollup]]. */
  def iterationRecords(iterId: String): IterationRecords = lock.synchronized {
    val ss = spans.filter(_.iter == iterId).toVector
    val root = ss.find(_.parent == -1).getOrElse(sys.error(s"no root span for $iterId"))
    def inRoot(t: Long) = t >= root.start && t <= root.end
    IterationRecords(ss,
      jobs.filter(j => inRoot(j.start)).toVector,
      plans.filter(p => inRoot(p.at)).toVector,
      progress.filter(p => inRoot(p.at)).toVector)
  }
}

final case class IterationRecords(spans: Vector[Span], jobs: Vector[JobRec],
                                  plans: Vector[PlanRec], progress: Vector[ProgressRec])

/** Classifies the operators of an executed plan into the layers the
  * benchmark reports (`plan.<layer>.rows`). */
object PlanLayers {
  val names: Seq[String] =
    Seq("scan", "exchange", "join", "agg", "window", "kernel", "ckpt_read")

  /** Every operator of the final plan, looking through adaptive
    * execution, query stages, reused exchanges and subqueries. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(operators)
  }

  private def metric(p: SparkPlan, k: String): Option[Long] = p.metrics.get(k).map(_.value)

  /** Rows an operator emits; operators without their own row counter
    * (codegen'd projections, windows) report the rows their inputs
    * emit. */
  def rowsOut(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case q: QueryStageExec => rowsOut(q.plan)
    case r: ReusedExchangeExec => rowsOut(r.child)
    case _ =>
      metric(p, "numOutputRows")
        .orElse(metric(p, "shuffleRecordsWritten"))
        .getOrElse(p.children.map(rowsOut).sum)
  }

  private def usesKernel(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.getClass.getName.startsWith("graft.functions.")))

  def layerOf(p: SparkPlan): Option[String] = {
    val n = p.getClass.getSimpleName
    if (n == "RDDScanExec") Some("ckpt_read")
    else if (n.contains("Scan")) Some("scan")
    else if (n.contains("Exchange") && !n.startsWith("Reused")) Some("exchange")
    else if (n.contains("Join") || n == "CartesianProductExec") Some("join")
    else if (n.contains("Aggregate")) Some("agg")
    else if (n.startsWith("Window")) Some("window")
    else if (usesKernel(p)) Some("kernel")
    else None
  }

  /** (rows in, rows out) of the first filter in plan order. */
  def topFilter(plan: SparkPlan): Option[(Long, Long)] =
    operators(plan).collectFirst { case f: org.apache.spark.sql.execution.FilterExec =>
      (f.children.map(rowsOut).sum, rowsOut(f))
    }

  /** Rows per layer. A kernel operator counts the rows it evaluates,
    * i.e. its input rows. */
  def rows(plan: SparkPlan): Map[String, Long] = {
    val acc = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    operators(plan).foreach { p =>
      layerOf(p).foreach { l =>
        acc(l) += (if (l == "kernel" || l == "window") p.children.map(rowsOut).sum else rowsOut(p))
      }
    }
    acc.toMap
  }
}

/** Process-wide counters read around an iteration. */
object Process {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  /** The JIT compiler threads (`C1 CompilerThread0`, ...). `run.py`
    * starts the JVM with a fixed set of them, so they never exit and
    * their CPU time stays readable. */
  private lazy val jitTasks: Seq[java.io.File] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.filter { t =>
      // A thread may exit between the listing and the read.
      val comm = try new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "comm").toPath)).trim
        catch { case _: java.io.IOException => "" }
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }

  /** CPU time of the JIT compiler threads, in ns (first field of
    * `/proc/self/task/<tid>/schedstat`). */
  def jitCpuNs: Long = jitTasks.map { t =>
    new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "schedstat").toPath)).split(' ')(0).toLong
  }.sum

  /** CPU time of the process outside the JIT compilers: the engine's own
    * work, its garbage collection and Spark's threads. */
  def workNs: Long = cpuNs - jitCpuNs
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
