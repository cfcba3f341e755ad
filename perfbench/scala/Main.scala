package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class Floors(plantedDupRecall: Double, recallAt10: Double)

/** Runs one workload and prints one JSON line (the last line of stdout)
  * that `perfbench/run.py` turns into the benchmark result.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --root DIR`,
  * where DIR is the checkout. Inputs and scratch files go under
  * `DIR/.bench_build/work`.
  *
  * Timeline of a run: session start; the workload's set-up, repeated
  * `setupReps` times; one untimed warm-up iteration; then iterations
  * until `seconds` have passed. With `--trace 1` at least two iterations
  * run, alternately traced and untraced, so tracing overhead is measured
  * in the same run, and the spans are written to
  * `DIR/.bench_build/spans/` when the run ends.
  *
  * `setup_s` is the process CPU time of set-up: JVM and session start,
  * the median of the set-up repetitions, and the warm-up. Its wall time
  * on a shared virtual machine moves with the host's load by more than
  * any bound the benchmark may set, so the wall-clock parts are only
  * recorded.
  */
object Main {
  /** `local[cores]` with `cores` shuffle partitions, as `graft.Bench`
    * runs; Spark's scratch space stays inside the checkout. */
  def session(root: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$root/.bench_build/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/.bench_build/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceMode = opts("trace") == "1"
    val root = opts("root")
    val bench = s"$root/perfbench"
    val work = s"$root/.bench_build/work/$workloadName"
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(root, cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionCpuS = Process.cpuNs / 1e9

    val floors = {
      val m = Json.readObject(s"$bench/floors.json")
      Floors(m("planted_dup_recall").toString.toDouble, m("recall_at_10").toString.toDouble)
    }
    val w: Workload = workloadName match {
      case "curate_search_append" => new CurateSearchAppend(spark, seed, work, floors)
      case "story_keys" =>
        val fps = if (opts.get("record-fingerprints").contains("1")) None
          else Some(Json.readObject(s"$bench/fingerprints.json").map { case (k, v) => k -> v.toString })
        new StoryKeys(spark, seed, s"$bench/fixture", fps)
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = new Tracer(spark, w.name)

    var attempted = 0L
    var failed = 0L
    val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = series.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val layerSeries = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]

    /** RDDs the session still holds in the block manager, and their MB.
      * Spark unpersists an RDD nobody references only after a garbage
      * collection has found it, so without a collection this figure
      * would follow the collector's timing. Collect, and read until the
      * cleaner has caught up (two equal readings). */
    def storage(): (Int, Double) = {
      def read() = {
        val infos = spark.sparkContext.getRDDStorageInfo
        (infos.length, infos.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
      }
      var prev = read(); var cur = prev; var tries = 0
      do {
        prev = cur; System.gc(); Thread.sleep(100); cur = read(); tries += 1
      } while ((tries < 2 || cur != prev) && tries < 30)
      cur
    }

    /** Runs one iteration; when `record` is set and every operation
      * succeeded, adds its samples. */
    def iteration(n: Int, traced: Boolean, record: Boolean): Unit = {
      w.reset()
      if (traced) tracer.attach() else tracer.detach()
      val it = new Iter(n, tracer)
      tracer.beginIteration(n)
      val gc0 = Process.gcMs; val jit0 = Process.jitCpuNs; val cpu0 = Process.workNs; val t0 = System.nanoTime()
      val ok = try { tracer.span(w.name)(w.iteration(it)); true } catch {
        case e: Throwable =>
          if (!e.isInstanceOf[OpFailed]) { it.attempted += 1; it.failed += 1 }
          System.err.println(s"[perfbench] iteration $n failed: $e"); e.printStackTrace()
          false
      }
      val wall = (System.nanoTime() - t0 - it.checkNs) / 1e9
      val cpu = (Process.workNs - cpu0 - it.checkCpuNs) / 1e9
      val gcS = (Process.gcMs - gc0) / 1e3
      System.err.println(f"[perfbench] iteration $n wall $wall%.3f s cpu $cpu%.3f s gc $gcS%.3f s " +
        f"jit ${(Process.jitCpuNs - jit0) / 1e9}%.3f s")
      attempted += it.attempted; failed += it.failed
      if (ok && it.failed == 0 && record) {
        val (rdds, mb) = storage()
        if (traced) {
          tracedWalls += wall
          val r = new Rollup(tracer.iterationRecords(s"${w.name}/$n"), cores)
          val lm = r.metrics(gcS, it.extras) ++ Map("ckpt.rdds_held" -> rdds.toDouble, "ckpt.mb_held" -> mb)
          lm.foreach { case (k, v) => layerSeries.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
        } else {
          untracedWalls += wall
          add("wall_s", wall); add("cpu_s", cpu); add("retained_mb", mb)
          it.samples.foreach { case (k, vs) => vs.foreach(add(k, _)) }
        }
      }
    }

    // Set-up, repeated: its median is the steady cost of building inputs.
    // Each entry is (wall s, process CPU s).
    def timed(body: => Unit): (Double, Double) = {
      val t = System.nanoTime(); val c = Process.cpuNs
      body
      ((System.nanoTime() - t) / 1e9, (Process.cpuNs - c) / 1e9)
    }
    val setupReps = 3
    val setupTimes = (1 to setupReps).map(_ => timed(w.setup()))
    val warm = timed(iteration(0, traced = false, record = false))
    val setupS = sessionCpuS + Stats.median(setupTimes.map(_._2)) + warm._2

    val measureStart = System.nanoTime()
    var n = 1
    // Traced runs alternate traced and untraced iterations, traced first:
    // iterations still speed up after the warm-up, so this order
    // overstates rather than hides `trace.overhead_frac`.
    while (n == 1 || (System.nanoTime() - measureStart) / 1e9 < seconds || (traceMode && n <= 2)) {
      iteration(n, traced = traceMode && n % 2 == 1, record = true)
      n += 1
    }
    tracer.detach()
    val spansFile = if (traceMode) Some(s".bench_build/spans/$workloadName-$seed.json") else None
    spansFile.foreach(f => tracer.writeSpans(s"$root/$f"))

    def med(k: String): Option[Double] = series.get(k).map(s => Stats.median(s.toSeq))
    val endToEnd = mutable.LinkedHashMap[String, Double]("setup_s" -> setupS)
    med("cpu_s").foreach(endToEnd("cpu_s") = _)
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    layerSeries.foreach { case (k, vs) => perLayer(k) = Stats.median(vs.toSeq) }
    if (tracedWalls.nonEmpty && untracedWalls.nonEmpty)
      perLayer("trace.overhead_frac") = Stats.median(tracedWalls.toSeq) / Stats.median(untracedWalls.toSeq) - 1

    // Metrics a user of the story sees that the benchmark does not gate
    // (see perfbench/README.md), printed in the record with their units.
    val ungated = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    def show(k: String, v: Double, unit: String): Unit = ungated(k) = Map("value" -> v, "unit" -> unit)
    med("wall_s").foreach(show("wall_s", _, "s"))
    series.get("search_s").foreach { s =>
      show("search_p50_ms", Stats.median(s.toSeq) * 1e3, "ms")
      show("search_qps", s.size * w.sizes("queries_per_batch").toString.toDouble / s.sum, "1/s")
    }
    for ((k, unit) <- Seq("fresh_s" -> "s", "compact_s" -> "s", "index_bytes_per_vector" -> "B",
                          "retained_mb" -> "MB"); v <- med(k))
      show(k, v, unit)
    for (k <- Seq("recall_at_10", "planted_dup_recall"); s <- series.get(k))
      show(k, s.sum / s.size, "ratio")
    show("fail_frac", failed.toDouble / math.max(1L, attempted), "ratio")

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traceMode,
      "nproc" -> cores, "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "iterations" -> untracedWalls.size, "traced_iterations" -> tracedWalls.size,
      "session_s" -> sessionS, "session_cpu_s" -> sessionCpuS,
      "setup_reps_s" -> setupTimes.map(_._1), "setup_reps_cpu_s" -> setupTimes.map(_._2),
      "warmup_s" -> warm._1, "warmup_cpu_s" -> warm._2, "spans_file" -> spansFile,
      "sizes" -> w.sizes, "samples" -> series.map { case (k, v) => k -> v.size },
      "ungated" -> ungated)
    w match {
      case s: StoryKeys => record("fingerprints") = s.recorded
      case _ =>
    }
    val out = mutable.LinkedHashMap[String, Any](
      "record" -> record, "end_to_end" -> endToEnd, "per_layer" -> perLayer,
      "attempted" -> attempted, "failed" -> failed,
      "correct" -> (failed == 0 && untracedWalls.nonEmpty))
    spark.stop()
    println(Json.render(out))
  }
}

/** JSON for the result line, the span file and the benchmark's small
  * files, with Jackson and its Scala module from Spark's jars. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    mapper.writeValue(f, v)
  }

  def readObject(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])
}
