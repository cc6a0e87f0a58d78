package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library reads no environment variable or system property: a
  * setting it needs arrives as an argument or a session conf, so every
  * caller (the mains, the tests, the benchmark) sees the same code path.
  * Only the mains read the process environment. No Spark session.
  */
class LibraryKnobsSpec extends AnyFunSuite {
  private val LibraryDirs = Seq("operators", "plans", "functions",
    "pipeline", "streaming", "sources")
  private val Knob =
    raw"sys\.env|sys\.props|System\.getenv|System\.getProperty".r

  test("no library source reads an env var or a system property") {
    val hits = LibraryDirs.flatMap { d =>
      val dir = Paths.get("src/main/scala/graft", d)
      assert(Files.isDirectory(dir), s"missing library dir $dir")
      val files = Files.walk(dir)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .toSeq.sortBy(_.toString)
      finally files.close()
    }.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if Knob.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
