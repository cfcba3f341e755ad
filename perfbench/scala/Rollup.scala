package perfbench

/** Rolls the records of one traced iteration up into per-layer metrics.
  *
  * Attribution: a job belongs to the innermost span whose job group it
  * carries and whose interval contains its start; a job without such a
  * group (streaming micro-batches run on their own thread) belongs to
  * the innermost span open when it started. Plan and stream records
  * belong to the innermost span open when they arrived. Everything that
  * lands in a `check` span is verification and is left out, as
  * `wall_s` leaves it out.
  */
final class Rollup(rec: IterationRecords, val cores: Int) {
  val root: Span = rec.spans.find(_.parent == -1).get
  private val children = rec.spans.groupBy(_.parent)

  /** Spans whose time counts: everything outside `check` subtrees. */
  val timed: Vector[Span] = {
    def walk(s: Span): Vector[Span] =
      if (s.name == "check") Vector.empty
      else s +: children.getOrElse(s.id, Vector.empty).flatMap(walk)
    walk(root)
  }
  private val timedIds = timed.map(_.id).toSet
  private val checkNs = rec.spans.filter(_.name == "check").map(_.dur).sum

  /** Iteration wall time without verification, in ns. */
  val wallNs: Long = root.dur - checkNs

  private def innermost(t: Long, among: Seq[Span]): Option[Span] =
    among.filter(s => s.start <= t && t <= s.end).sortBy(-_.start).headOption

  private def groupOf(s: Span) = s"${s.iter}/${s.name}"

  val jobSpan: Map[Int, Span] = rec.jobs.flatMap { j =>
    val byGroup = innermost(j.start, rec.spans.filter(s => groupOf(s) == j.group))
    byGroup.orElse(innermost(j.start, rec.spans)).map(j.id -> _)
  }.toMap

  /** Jobs caused by timed work. */
  val jobs: Vector[JobRec] = rec.jobs.filter(j => jobSpan.get(j.id).exists(s => timedIds(s.id)))

  def jobsIn(span: Span): Vector[JobRec] = jobs.filter(j => jobSpan(j.id).id == span.id)

  /** Duration of `s` minus the time its child spans cover. */
  def selfNs(s: Span): Long = s.dur - unionNs(children.getOrElse(s.id, Vector.empty).map(c => (c.start, c.end)))

  /** Length of the union of intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time during which no job of the iteration ran. */
  val driverGapNs: Long = wallNs - unionNs(jobs.map(j =>
    (math.max(j.start, root.start), math.min(if (j.end < 0) root.end else j.end, root.end))))

  private val timedPlans = rec.plans.filter(p => innermost(p.at, rec.spans).exists(s => timedIds(s.id)))
  private val timedProgress = rec.progress.filter(p => innermost(p.at, rec.spans).exists(s => timedIds(s.id)))

  private def sum(js: Seq[JobRec])(f: TaskSums => Long): Long = js.map(j => f(j.sums)).sum
  private val MB = 1024.0 * 1024.0

  /** Per-layer metrics of this iteration. `gcS` is the JVM's collection
    * time over the iteration; `extras` are the workload's own figures. */
  def metrics(gcS: Double, extras: collection.Map[String, Double]): Map[String, Double] = {
    val m = collection.mutable.LinkedHashMap.empty[String, Double]
    val wallS = wallNs / 1e9
    m("sched.jobs") = jobs.size
    m("sched.stages") = jobs.map(_.stages).sum
    m("sched.tasks") = sum(jobs)(_.tasks)
    m("sched.driver_gap_s") = driverGapNs / 1e9
    val runS = sum(jobs)(_.runMs) / 1e3
    m("exec.cpu_s") = sum(jobs)(_.cpuNs) / 1e9
    m("exec.run_s") = runS
    m("exec.gc_s") = gcS
    m("exec.busy_frac") = runS / (wallS * cores)
    m("shuffle.write_mb") = sum(jobs)(_.shWrite) / MB
    m("shuffle.read_mb") = sum(jobs)(_.shRead) / MB
    m("shuffle.fetch_wait_s") = sum(jobs)(_.fetchWaitMs) / 1e3
    m("spill.mb") = sum(jobs)(_.spill) / MB
    PlanLayers.names.foreach(l => m(s"plan.$l.rows") = timedPlans.map(_.rows.getOrElse(l, 0L)).sum.toDouble)

    val byName = timed.filter(_.parent != -1).groupBy(_.name)
    def spansNamed(n: String) = byName.getOrElse(n, Vector.empty)
    for ((name, ss) <- byName if name.startsWith("api.") || name.startsWith("key.")) {
      val durs = ss.map(_.dur / 1e9)
      if (name == "api.ivfSearch" || name == "api.appendToIvfIndex") m(s"${name}_ms") = Stats.median(durs) * 1e3
      else m(s"${name}_s") = durs.sum
      if (name.startsWith("key.")) m(s"$name.jobs") = ss.map(s => jobsIn(s).size).sum
    }

    def plansIn(n: String) = timedPlans.filter(p => innermost(p.at, rec.spans).exists(_.name == n))
    val lsh = plansIn("api.nearDuplicates").flatMap(_.topFilter)
    if (lsh.nonEmpty) m("dedup.kept_per_candidate") = lsh.map(_._2).sum.toDouble / math.max(1L, lsh.map(_._1).sum)
    m("io.scan_mb") = sum(jobs)(_.inBytes) / MB
    val writes = (spansNamed("api.buildIvfIndex") ++ spansNamed("api.appendToIvfIndex")).flatMap(jobsIn)
    m("io.index_write_mb") = sum(writes)(_.outBytes) / MB
    m("io.compact_rewrite_mb") = sum(spansNamed("api.compactIvfIndex").flatMap(jobsIn))(_.outBytes) / MB
    val results = extras.getOrElse("search.results", 0.0)
    if (results > 0)
      m("io.rows_per_result") = plansIn("api.ivfSearch").map(_.rows.getOrElse("scan", 0L)).sum / results
    if (timedProgress.nonEmpty) {
      m("stream.trigger_ms") = Stats.median(timedProgress.map(_.triggerMs.toDouble))
      m("stream.addBatch_ms") = Stats.median(timedProgress.map(_.addBatchMs.toDouble))
      m("stream.rows_per_batch") = Stats.median(timedProgress.map(_.rows.toDouble))
    }
    extras.foreach { case (k, v) => if (k != "search.results") m(k) = v }
    m.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }
}
