package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the command-line tools (`Verify`, `JobProfile`, `ExplainDump`)
  * share: one session recipe and one key filter.
  */
object Harness {

  /** `local[SPARK_GRAFT_CPUS or nproc]` with shuffle partitions = CPUs,
    * the UTC session time zone every declared key assumes, no UI and
    * WARN logs.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The declared keys whose name contains one of the comma-separated
    * substrings in `filter` (every key when it is absent or empty), in
    * `SparkEntry.queries` order.
    */
  def keys(filter: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val parts = filter.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    SparkEntry.queries.toSeq.filter { case (n, _) => parts.isEmpty || parts.exists(n.contains) }
  }
}
