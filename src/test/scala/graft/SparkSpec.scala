package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suites (UTC, small shuffle
  * fan-out, UI off — mirrors the harness config in Verify.scala).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String) = s"/root/testdata/$name"

  /** Runs `body` on a fresh directory under `java.io.tmpdir` and deletes
    * the directory, with all it holds, afterwards. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      val paths = java.nio.file.Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally paths.close()
    }
  }

  /** Runs `body` and returns its result with the number of Spark jobs
    * it started. The listener bus is drained before and after, so every
    * onJobStart of `body` is counted and no earlier one is; its
    * `waitUntilEmpty` is Spark-internal, so it is reached by reflection.
    */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain()
    sc.addSparkListener(listener)
    try {
      val out = body
      drain()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
