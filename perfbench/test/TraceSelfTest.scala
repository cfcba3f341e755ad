package perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Self-test of the traced run's rollup, on the committed fixture:
  *  1. the jobs the rollup attributes to one `ann_hnsw_topk` call equal
  *     the jobs a bare SparkListener saw during that call;
  *  2. in one iteration, the self times of the timed spans sum exactly
  *     to the iteration's wall time, and the union of job spans plus
  *     `sched.driver_gap_s` covers that wall time.
  * Prints `selftest ok` and exits 0, or throws.
  *
  *     python3 perfbench/run.py --selftest
  */
object TraceSelfTest {
  def main(args: Array[String]): Unit = {
    val root = args(args.indexOf("--root") + 1)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(root, cores)
    val fixture = s"$root/perfbench/fixture"
    val queries = graft.SparkEntry.queries
    val raw = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = raw.incrementAndGet()
    }
    val tracer = new Tracer(spark, "selftest")
    tracer.attach()
    tracer.beginIteration(1)
    val it = new Iter(1, tracer)
    val t0 = System.nanoTime()
    tracer.span("selftest") {
      spark.sparkContext.addSparkListener(counter)
      it.op("key.ann_hnsw_topk") { queries("ann_hnsw_topk")(spark, fixture).collect() }
      tracer.drain()
      spark.sparkContext.removeSparkListener(counter)
      it.untimed { spark.read.parquet(s"$fixture/embeddings.parquet").count() }
      it.op("key.kmeans_lloyd") { queries("kmeans_lloyd")(spark, fixture).collect() }
    }
    val measuredNs = System.nanoTime() - t0 - it.checkNs
    tracer.detach()

    val r = new Rollup(tracer.iterationRecords("selftest/1"), cores)
    val hnsw = r.timed.find(_.name == "key.ann_hnsw_topk").get
    val rolled = r.jobsIn(hnsw).size
    assert(raw.get > 0 && rolled == raw.get, s"rollup counted $rolled jobs, listener ${raw.get}")

    val selfSum = r.timed.map(r.selfNs).sum
    assert(selfSum == r.wallNs, s"self times sum to $selfSum ns, wall is ${r.wallNs} ns")
    val m = r.metrics(0.0, Map.empty)
    val jobUnion = r.wallNs - r.driverGapNs
    assert(r.driverGapNs >= 0 && jobUnion > 0, s"driver gap ${r.driverGapNs} ns of ${r.wallNs} ns")
    assert(math.abs(m("sched.driver_gap_s") * 1e9 + jobUnion - r.wallNs) < 1e3, "gap + jobs = wall")
    assert(math.abs(measuredNs - r.wallNs) < 50000000L, s"span wall ${r.wallNs} ns, timer $measuredNs ns")
    assert(m("key.kmeans_lloyd.jobs") > 0 && m("plan.scan.rows") > 0, s"metrics: $m")
    spark.stop()
    println(f"selftest ok: ann_hnsw_topk ran $rolled jobs; wall ${r.wallNs / 1e9}%.3f s = " +
      f"jobs ${jobUnion / 1e9}%.3f s + driver gap ${r.driverGapNs / 1e9}%.3f s")
  }
}
