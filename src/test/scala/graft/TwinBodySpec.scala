package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One body per computation: a public `GraftEngine` method and a
  * declared key that compute the same thing call one shared `*Core`
  * in the key's operator object instead of each carrying a copy.
  * Two copies drift apart silently (a guard fixed in one, a cast in
  * the other), and only the parity tests would notice.
  *
  * A facade method body and a key body are twins when they share at
  * least [[TwinBodySpec.MinShared]] distinct normalized lines: code
  * lines (comments dropped) trimmed, `TestData.r4` read as `r4`, and
  * longer than 12 characters so that bare closers and one-word lines
  * do not count.
  *
  * The same holds key to key and helper to helper: two declared keys,
  * or two `def`s of the operator objects, that compute the same thing
  * call one `private[graft]` helper of the object that owns most of
  * the family. That scan also drops the lines of stripMargin SQL
  * (they start with `|` or `"""`), since oracle SQL is written per
  * key on purpose.
  */
class TwinBodySpec extends AnyFunSuite {
  import TwinBodySpec._

  private val checkout = new File(".").getCanonicalPath

  test("no public GraftEngine method copies a declared key's body") {
    val main = new File(checkout, "src/main/scala/graft")
    assert(main.isDirectory, s"tests run from the checkout: $main")
    val facade = facadeBodies(lines(new File(main, "api/GraftEngine.scala")))
    val keys = new File(main, "operators").listFiles().toSeq
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      .flatMap(f => keyBodies(lines(f)).map { case (k, b) => (s"${f.getName}:$k", b) })
    assert(facade.size > 200 && keys.size > 500, s"${facade.size} methods, ${keys.size} keys")
    val twins = for {
      (m, body) <- facade
      (key, shared) = keys.map { case (k, kb) => (k, (body & kb).size) }.maxBy(_._2)
      if shared >= MinShared
    } yield s"$shared lines: GraftEngine.$m ~ $key"
    if (twins.nonEmpty)
      fail(twins.mkString(s"${twins.size} facade methods copy a key body; " +
        "move the body to a shared *Core in the key's operator object:\n", "\n", ""))
  }

  test("no two key or operator-helper bodies copy each other") {
    val main = new File(checkout, "src/main/scala/graft")
    assert(main.isDirectory, s"tests run from the checkout: $main")
    val bodies = new File(main, "operators").listFiles().toSeq
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      .flatMap(f => objectBodies(f.getName.stripSuffix(".scala"), lines(f)))
    val facade = facadeBodies(lines(new File(main, "api/GraftEngine.scala")))
      .map { case (m, b) => (s"GraftEngine.$m", code(b)) }
    assert(bodies.size > 800 && facade.size > 200,
      s"${bodies.size} key and helper bodies, ${facade.size} methods")
    val copies = copiedPairs(bodies, facade)
      .filterNot { case (a, b, _) => Exempt.contains(Set(a, b)) }
    if (copies.nonEmpty)
      fail(copies.map { case (a, b, n) => s"$n lines: $a ~ $b" }.mkString(
        s"${copies.size} pairs of bodies copy each other; move the shared " +
          "expressions to one private[graft] helper that both call:\n", "\n", ""))
  }

  test("the scan sees a copied body") {
    def entry(k: String) = Seq(s"    \"$k\" -> ((s, d) => {") ++
      Body.map("      " + _) ++ Seq("    }),")
    val key = Seq("  val defs: Map[String, Q] = Map(") ++ entry("k") ++
      entry("k2") ++ Seq("  )")
    val method = Seq("  def m(df: DataFrame): DataFrame = {") ++
      Body.map(l => "    " + l.replace("r4(", "TestData.r4(")) ++ Seq("  }")
    val (k, kb) = keyBodies(key).head
    val (m, mb) = facadeBodies(method).head
    assert(k == "k" && m == "m" && (kb & mb).size == Body.size - 1)
    assert(copiedPairs(objectBodies("Op", key), Nil) ==
      Seq(("Op:k", "Op:k2", Body.size - 1)))
  }
}

object TwinBodySpec {
  val MinShared = 10

  /** Pairs left apart on purpose, each with its reason. */
  val Exempt: Map[Set[String], String] = Map(
    Set("Vectors:triplet_mine", "Vectors:triplet_mine_bucketed") ->
      "the bucketed key is benchmarked (story_keys); its body stays as measured",
    Set("ProductQuantize:ann_ivf_pq_topk", "TrainedQuantize:ann_ivf_pq_trained_topk") ->
      "ann_ivf_pq_topk is benchmarked (story_keys); its body stays as measured",
    Set("AnnSearch.probedLink", "GraphOps.directedKnn") ->
      "both reach benchmarked keys (ann_hnsw_topk, ann_graph_topk); they stay as measured")

  private val Body = Seq("val w = Window.orderBy(\"x\")", "// a comment line here") ++
    (1 to 10).map(i => s".withColumn(\"c$i\", r4(col(\"x\") * $i))")

  private def lines(f: File): Seq[String] =
    Files.readAllLines(f.toPath, UTF_8).asScala.toSeq

  private def norm(body: Seq[String]): Set[String] =
    body.iterator.map(_.trim.replace("TestData.r4", "r4"))
      .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
      .filter(_.length > 12).toSet

  private val Member =
    """^  (?:(?:private\S*|override|final)\s+)?(?:def|val|lazy|/\*\*|class|object|@).*""".r
  private val PublicDef = """^  def (\w+).*""".r
  private val AnyDef =
    """^  (?:(?:private\S*|override|final)\s+)*def (\w+).*""".r
  private val KeyEntry = """^    "(\w+)" ->.*""".r

  /** Public class-level `def`s of the facade with their bodies: every
    * line up to the next member or the class's closing brace.
    */
  def facadeBodies(src: Seq[String]): Seq[(String, Set[String])] =
    memberBodies(src, PublicDef)

  /** Class-level `def`s matching `start`, with every line up to the
    * next member or the closing brace.
    */
  private def memberBodies(src: Seq[String],
                           start: scala.util.matching.Regex): Seq[(String, Set[String])] = {
    val out = Seq.newBuilder[(String, Set[String])]
    var cur: Option[(String, Seq[String])] = None
    def close(): Unit = cur.foreach { case (n, b) => out += n -> norm(b) }
    src.foreach {
      case start(n) => close(); cur = Some((n, Seq.empty))
      case l if Member.matches(l) || l.startsWith("}") => close(); cur = None
      case l => cur = cur.map { case (n, b) => (n, b :+ l) }
    }
    close()
    out.result()
  }

  /** Entries of an operator object's `defs` map with their bodies:
    * every line up to the next entry or the map's end.
    */
  def keyBodies(src: Seq[String]): Seq[(String, Set[String])] = {
    val defs = src.dropWhile(l => !l.startsWith("  val defs")).drop(1)
      .takeWhile(l => !(l.startsWith("  ") && !l.startsWith("   ") && l.trim.nonEmpty))
    val out = Seq.newBuilder[(String, Set[String])]
    var cur: Option[(String, Seq[String])] = None
    defs.foreach {
      case l @ KeyEntry(k) => cur.foreach { case (n, b) => out += n -> norm(b) }; cur = Some((k, Seq(l)))
      case l => cur = cur.map { case (n, b) => (n, b :+ l) }
    }
    cur.foreach { case (n, b) => out += n -> norm(b) }
    out.result()
  }

  /** A body without its stripMargin SQL lines. */
  private def code(body: Set[String]): Set[String] =
    body.filterNot(l => l.startsWith("|") || l.startsWith("\"\"\""))

  /** The key entries (`Obj:key`) and the `def`s (`Obj.name`, any
    * visibility) of operator object `obj`, as code line sets.
    */
  def objectBodies(obj: String, src: Seq[String]): Seq[(String, Set[String])] =
    keyBodies(src).map { case (k, b) => (s"$obj:$k", code(b)) } ++
      memberBodies(src, AnyDef).map { case (h, b) => (s"$obj.$h", code(b)) }

  /** Every pair of `bodies`, and every facade method against every
    * helper, sharing at least [[MinShared]] lines, with the count.
    */
  def copiedPairs(bodies: Seq[(String, Set[String])],
                  facade: Seq[(String, Set[String])]): Seq[(String, String, Int)] = {
    val helpers = bodies.filter(_._1.contains('.'))
    val pairs = bodies.combinations(2).map { case Seq((a, ab), (b, bb)) =>
      (a, b, (ab & bb).size) } ++
      (for ((m, mb) <- facade.iterator; (h, hb) <- helpers) yield (m, h, (mb & hb).size))
    pairs.filter(_._3 >= MinShared).toSeq
  }
}
