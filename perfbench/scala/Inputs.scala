package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

final case class VecRow(id: Long, label: Int, embedding: Array[Double])
final case class DocRow(id: Long, text: String, lang: String)

/** Seeded input generator. Every value is a pure function of
  * (seed, row id), so the same seed gives the same inputs whatever the
  * partitioning, and the planted truth is known without reading the
  * data back.
  *
  * Vectors: `Dim`-dimensional points drawn around `k` Gaussian cluster
  * centres; the label is the cluster. Clustered data is a deliberate
  * property: it is what makes IVF probing prune, and what gives triplet
  * mining same-label positives.
  *
  * Documents: `base` random texts of 30–60 words, then planted copies.
  * An exact copy is the source text upper-cased with surrounding blanks
  * (the normalisation `dedupExact` undoes); a near copy replaces one
  * word, which changes at most two of its word 2-shingles, so its Jaccard
  * with the source stays above 0.85. Copies keep the source's `lang`, the
  * block key.
  */
object Inputs {
  val Dim = 64
  val Vocab = 5000
  private val Langs = Array("en", "de", "fr", "es")

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of (a, b). */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def centres(seed: Long, k: Int): Array[Array[Double]] = {
    val r = new scala.util.Random(mix(seed, -1L))
    Array.fill(k, Dim)(r.nextGaussian())
  }

  def vector(seed: Long, id: Long, cs: Array[Array[Double]], sigma: Double): VecRow = {
    val r = new scala.util.Random(mix(seed, id))
    val label = r.nextInt(cs.length)
    VecRow(id, label, Array.tabulate(Dim)(d => cs(label)(d) + sigma * r.nextGaussian()))
  }

  /** `n` vectors with ids `idBase until idBase + n`. */
  def vectors(spark: SparkSession, seed: Long, idBase: Long, n: Long,
              cs: Array[Array[Double]], sigma: Double): DataFrame = {
    import spark.implicits._
    spark.range(idBase, idBase + n).as[Long]
      .map(id => vector(seed, id, cs, sigma)).toDF()
  }

  /** Document plan: ids `[0, base)` are originals, then `exact` exact
    * copies, then `near` near copies. */
  final case class DocPlan(seed: Long, base: Int, exact: Int, near: Int) {
    val n: Int = base + exact + near
    def source(id: Long): Long = java.lang.Math.floorMod(mix(seed ^ 0x5EEDL, id), base.toLong)
    def isExactCopy(id: Long): Boolean = id >= base && id < base + exact
    /** Planted (source, near copy) pairs. */
    def nearPairs: Seq[(Long, Long)] = (base.toLong + exact until n).map(i => (source(i), i))
  }

  private def words(seed: Long, id: Long): (Array[String], String) = {
    val r = new scala.util.Random(mix(seed, id))
    (Array.fill(30 + r.nextInt(31))("w" + r.nextInt(Vocab)), Langs(r.nextInt(Langs.length)))
  }

  def doc(p: DocPlan, id: Long): DocRow =
    if (id < p.base) {
      val (ws, lang) = words(p.seed, id)
      DocRow(id, ws.mkString(" "), lang)
    } else {
      val (ws, lang) = words(p.seed, p.source(id))
      if (p.isExactCopy(id)) DocRow(id, "  " + ws.mkString(" ").toUpperCase + " ", lang)
      else {
        val r = new scala.util.Random(mix(p.seed ^ 0xC0DEL, id))
        // A word outside the originals' vocabulary, so the copy differs.
        ws(r.nextInt(ws.length)) = "x" + r.nextInt(Vocab)
        DocRow(id, ws.mkString(" "), lang)
      }
    }

  def documents(spark: SparkSession, p: DocPlan): DataFrame = {
    import spark.implicits._
    spark.range(0L, p.n.toLong).as[Long].map(id => doc(p, id)).toDF()
  }

  /** Nearest centre by squared L2, ties to the lower id — the rule
    * `VectorOps.assignToCentroids` applies, summed in the same order. */
  def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      var acc = 0.0; var d = 0
      while (d < v.length) { val x = v(d) - cs(c)(d); acc = acc + x * x; d += 1 }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }
}
