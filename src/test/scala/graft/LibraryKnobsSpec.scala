package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source scans of the library. It reads no environment variable or
  * system property: a setting it needs arrives as an argument or a
  * session conf, so every caller (the mains, the tests, the benchmark)
  * sees the same code path. Only the mains read the process
  * environment. And its layers run one way: the operators build on the
  * Catalyst extensions in `plans`, never the reverse. No Spark session.
  */
class LibraryKnobsSpec extends AnyFunSuite {
  private val LibraryDirs = Seq("operators", "plans", "functions",
    "pipeline", "streaming", "sources")
  private val Knob =
    raw"sys\.env|sys\.props|System\.getenv|System\.getProperty".r

  /** `file:line: text` for every line of the `.scala` files under the
    * given library dirs that `pattern` matches.
    */
  private def scan(dirs: Seq[String], pattern: scala.util.matching.Regex) =
    dirs.flatMap { d =>
      val dir = Paths.get("src/main/scala/graft", d)
      assert(Files.isDirectory(dir), s"missing library dir $dir")
      val files = Files.walk(dir)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .toSeq.sortBy(_.toString)
      finally files.close()
    }.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }

  test("no library source reads an env var or a system property") {
    val hits = scan(LibraryDirs, Knob)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("plans never imports graft.operators") {
    // Scaladoc links into operators stay allowed; imports do not.
    val hits = scan(Seq("plans"), raw"^\s*import\s+graft\.operators".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
