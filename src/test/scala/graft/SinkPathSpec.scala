package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Every sink lives under `WriteOnce.root`, the checkout's own
  * `target/tmp`. A source file that names an absolute path inside a
  * checkout — this one's, or any `…/target/…` sink dir — makes a run
  * from every other checkout write into, reuse and race on that
  * checkout's files. `Bench.scala` is exempt: the benchmark harness
  * keeps its report path as it is.
  */
class SinkPathSpec extends SparkSpec {

  private val checkout = new File(".").getCanonicalPath

  test("src/main names no absolute checkout or sink path outside Bench.scala") {
    val src = new File(checkout, "src/main/scala")
    assert(src.isDirectory, s"tests run from the checkout: $src")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val absSink = """["\s]/\S*/target/""".r
    val hits = for {
      f <- files(src) if f.getName.endsWith(".scala") && f.getName != "Bench.scala"
      (line, i) <- Files.readAllLines(f.toPath, UTF_8).asScala.zipWithIndex
      if line.contains(checkout + "/") || absSink.findFirstIn(line).isDefined
    } yield s"${f.getPath.stripPrefix(checkout + "/")}:${i + 1}: ${line.trim}"
    if (hits.nonEmpty) fail(hits.mkString("absolute paths:\n", "\n", ""))
  }

  test("WriteOnce roots every sink in the checkout's own target/tmp") {
    import graft.sources.WriteOnce
    val root = WriteOnce.root
    assert(new File(root).getCanonicalPath == new File(checkout, "target/tmp").getCanonicalPath)
    assert(WriteOnce.path("x") == s"$root/x")
    val perInput = WriteOnce.path("x", new File(checkout, "no_such_sf").getPath, "t")
    assert(perInput.matches(s"\\Q$root\\E/x_[0-9a-f]{8}"), perInput)
  }

  test("a rewritten sink deletes the sink it supersedes, not another sfDir's") {
    import graft.sources.WriteOnce
    withTempDir("writeonce") { tmp =>
      val sfs = Seq("sfA", "sfB").map { n =>
        val sf = new File(tmp, n)
        assert(sf.mkdirs())
        Files.write(new File(sf, "t.parquet").toPath, n.getBytes(UTF_8))
        sf.getPath
      }
      val name = s"writeonce_spec_${System.nanoTime}"
      def write(dir: String): Unit = {
        assert(new File(dir).mkdirs() || new File(dir).isDirectory)
        assert(new File(dir, "_SUCCESS").createNewFile() || new File(dir, "_SUCCESS").isFile)
      }
      try {
        val other = WriteOnce.sink(name, sfs(1), "t")(write)
        val before = WriteOnce.sink(name, sfs(0), "t")(write)
        val fixture = new File(sfs(0), "t.parquet")
        assert(fixture.setLastModified(fixture.lastModified() - 60000L))
        val after = WriteOnce.sink(name, sfs(0), "t")(write)
        assert(after != before, "a re-stamped fixture gets a new sink")
        assert(!new File(before).exists(), s"superseded sink left behind: $before")
        assert(new File(after, "_SUCCESS").isFile)
        assert(new File(other, "_SUCCESS").isFile, s"another sfDir's sink was deleted: $other")
      } finally {
        new File(WriteOnce.root).listFiles().filter(_.getName.startsWith(name))
          .foreach { d => d.listFiles().foreach(_.delete()); d.delete() }
      }
    }
  }
}
