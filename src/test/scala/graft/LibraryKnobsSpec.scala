package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source scans of the library. It reads no environment variable or
  * system property: a setting it needs arrives as an argument or a
  * session conf, so every caller (the mains, the tests, the benchmark)
  * sees the same code path. Only the mains read the process
  * environment. Its layers run one way: the operators build on the
  * Catalyst extensions in `plans`, and the pipelines on the operators,
  * never the reverse. And the set of mains is closed: a new one is an
  * explicit edit of [[Mains]]. No Spark session.
  */
class LibraryKnobsSpec extends AnyFunSuite {
  private val LibraryDirs = Seq("operators", "plans", "functions",
    "pipeline", "streaming")
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

  /** Every object under `src/main/scala` that declares a `main`. */
  private val Mains = Set("Bench", "Verify", "PlanDump", "Gates", "MemSmoke",
    "RecallSweep")

  test("plans never imports graft.operators") {
    // Scaladoc links into operators stay allowed; imports do not.
    val hits = scan(Seq("plans"), raw"^\s*import\s+graft\.operators".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("operators never imports graft.pipeline") {
    val hits = scan(Seq("operators"), raw"^\s*import\s+graft\.pipeline".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("the mains are exactly the listed six") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val sources =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally files.close()
    val objectDecl = raw"\bobject\s+(\w+)".r
    // The object a `def main` belongs to is the last one declared above it.
    val mains = sources.flatMap { f =>
      val text = Files.readString(f)
      raw"\bdef\s+main\s*\(".r.findAllMatchIn(text).map { m =>
        objectDecl.findAllMatchIn(text.substring(0, m.start)).toSeq
          .lastOption.map(_.group(1)).getOrElse(f.toString)
      }
    }
    assert(mains.size == mains.distinct.size, mains)
    assert(mains.toSet == Mains,
      s"unexpected: ${mains.toSet.diff(Mains)}; " +
        s"missing: ${Mains.diff(mains.toSet)}")
  }
}
